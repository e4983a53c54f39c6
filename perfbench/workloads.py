"""The benchmark's workloads: inputs, the timed job, its output check,
and the traced cut run that times each layer on its own.

Every job calls the program's public functions only; the benchmark
never edits or patches program code.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import checks
import inputs
from osmptparser_spark import engine
from osmptparser_spark.engine import filter_relations, routes_from_pages
from osmptparser_spark.functions import h3x, s2x
from osmptparser_spark.functions.tagfilter import PTV2_FILTER, line_prefilter
from osmptparser_spark.functions.tiling import with_cells
from osmptparser_spark.operators.components import (
    connected_components,
    near_dup_clusters,
)
from osmptparser_spark.operators.dedup import minhash_lsh_pairs
from osmptparser_spark.operators.hydrate import (
    hydrate_stops,
    hydrated_node_rows,
    semi_join_ways,
)
from osmptparser_spark.operators.spatial import knn_join
from osmptparser_spark.operators.stitch import stitch_node_rows_partitioned
from osmptparser_spark.sources.pages import (
    PAGES_DDL,
    entities_to_pages,
    extract_nodes_sql,
    extract_relations_sql,
    extract_ways_sql,
)
from osmptparser_spark.sources.synth import synth_geo_entities

GAP_M = checks.GAP_M
THRESHOLD = 0.5
KNN_RES, KNN_RING = 8, 1
QUERY_MOD, STOP_MOD = 97, 53  # ~1% of nodes query, ~1.9% are stops
PAGES_DDL_COLUMNS = [c.split()[0] for c in PAGES_DDL.split(", ")]

#: Per-layer metrics every traced run reports, in output order. A layer
#: a workload does not run reads 0 there.
LAYER_METRICS = {
    "session.start_s": "s",
    "input.load_s": "s",
    "warmup_s": "s",
    "extract.relations_s": "s",
    "extract.ways_s": "s",
    "extract.nodes_s": "s",
    "extract.relations_rows": "count",
    "extract.ways_rows": "count",
    "extract.nodes_rows": "count",
    "filter.s": "s",
    "filter.rows_out": "count",
    "semijoin.s": "s",
    "semijoin.rows_out": "count",
    "hydrate.s": "s",
    "hydrate.rows_out": "count",
    "hydrate.shuffle_write_mb": "MB",
    "hydrate.dangling_refs": "count",
    "stops.s": "s",
    "stitch.s": "s",
    "stitch.cpu_s": "s",
    "stitch.relations": "count",
    "stitch.status_0": "count",
    "stitch.status_101": "count",
    "stitch.status_102": "count",
    "stitch.status_501": "count",
    "finalize.s": "s",
    "tile.s": "s",
    "tile.points": "count",
    "knn.ring_s": "s",
    "knn.queries": "count",
    "knn.escalated_frac": "frac",
    "minhash.s": "s",
    "band.rows_dropped": "count",
    "band.drop_ratio": "frac",
    "verify.pairs": "count",
    "components.s": "s",
    "components.jobs": "count",
    "components.planted_missed": "count",
    "cut_sum_s": "s",
    "trace_overhead_s": "s",
    "host.steal_s": "s",
    "host.probe_s": "s",
}


@dataclass
class Input:
    df: DataFrame
    items: int
    extra: dict = field(default_factory=dict)


class Routes:
    """Synthetic pages -> routes_from_pages(PTV2). Hydrate and stitch do
    most of the work; no tile, kNN or dedup layer runs."""

    name = "routes"
    item_unit = "pages"
    # the JVM keeps compiling through the first jobs: measured on one
    # routes run, job CPU fell 7.7, 7.4, 6.2, 6.1, 5.1, 5.0, 4.5 s over
    # the seven jobs after four warm-up jobs, then ~0.05 s a job
    warmup_jobs = 6

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.n_routes = 30 if smoke else 200
        self._expected = None

    def load(self, spark) -> Input:
        entities = synth_geo_entities(n_routes=self.n_routes, seed=self.seed)
        pages = pd.DataFrame(
            entities_to_pages(*entities, 50), columns=PAGES_DDL_COLUMNS
        )
        df = spark.createDataFrame(pages, PAGES_DDL)
        return Input(df, df.count(), {"entities": entities})

    def job(self, spark, inp: Input):
        out = routes_from_pages(inp.df, GAP_M, PTV2_FILTER)
        return out.select("id", "status_code", "node_seq", "stops", "geometry").toArrow()

    def expected(self, inp: Input) -> dict:
        if self._expected is None:
            self._expected = checks.expected_routes(inp.extra["entities"])
        return self._expected

    def check(self, out, inp: Input) -> list[str]:
        return checks.check_routes(out, self.expected(inp))

    def cut(self, spark, inp: Input, tr) -> tuple[dict, list[str]]:
        m: dict = {}
        pages = inp.df
        with tr.span("cut"):
            with tr.span("extract.relations"):
                rel_all = _force(
                    extract_relations_sql(pages, line_filter=line_prefilter(PTV2_FILTER))
                )
            with tr.span("extract.ways"):
                ways = _force(extract_ways_sql(pages))
            with tr.span("extract.nodes"):
                nodes = _force(extract_nodes_sql(pages))
            with tr.span("filter"):
                rel = _force(
                    filter_relations(rel_all, PTV2_FILTER).filter(F.size("way_refs") > 0)
                )
            with tr.span("semijoin"):
                rel_ways = _force(semi_join_ways(ways, rel))
            with tr.span("hydrate"):
                node_rows = _force(hydrated_node_rows(rel, rel_ways, nodes))
            with tr.span("stops"):
                stops = _force(hydrate_stops(rel, nodes))
            with tr.span("stitch"):
                stitched = _force(stitch_node_rows_partitioned(node_rows, GAP_M, False))
            with tr.span("finalize"):
                # the engine's join of stitch results and stops back onto
                # relation metadata; it has no public name of its own
                engine._finalize(rel, stitched, stops).write.format("noop").mode(
                    "overwrite"
                ).save()
        for name, key in [
            ("extract.relations", "extract.relations_s"),
            ("extract.ways", "extract.ways_s"),
            ("extract.nodes", "extract.nodes_s"),
            ("filter", "filter.s"),
            ("semijoin", "semijoin.s"),
            ("hydrate", "hydrate.s"),
            ("stops", "stops.s"),
            ("stitch", "stitch.s"),
            ("finalize", "finalize.s"),
        ]:
            m[key] = tr.self_seconds(name)
        m["extract.relations_rows"] = rel_all.count()
        m["extract.ways_rows"] = ways.count()
        m["extract.nodes_rows"] = nodes.count()
        m["filter.rows_out"] = rel.count()
        m["semijoin.rows_out"] = rel_ways.count()
        m["hydrate.rows_out"] = node_rows.count()
        m["hydrate.shuffle_write_mb"] = tr.shuffle_write_mb("hydrate")
        refs_in = (
            rel.select(F.explode("way_refs").alias("id"))
            .join(rel_ways.select("id", F.size("refs").alias("n")), "id")
            .agg(F.sum("n"))
            .first()[0]
        )
        m["hydrate.dangling_refs"] = int(refs_in or 0) - m["hydrate.rows_out"]
        m["stitch.cpu_s"] = tr.get("stitch").cpu_s
        hist = {r[0]: r[1] for r in stitched.groupBy("status_code").count().collect()}
        m["stitch.relations"] = sum(hist.values())
        for code in (0, 101, 102, 501):
            m[f"stitch.status_{code}"] = hist.get(code, 0)
        want = self.expected(inp)["status"]
        problems = [] if hist == want else [f"stitch status histogram {hist} != {want}"]
        return m, problems


class Tiles:
    """The same synthetic pages -> extract_nodes_sql -> with_cells (H3
    res 9 + S2 level 16) over every node, and a ring-only
    knn_join(k=1, res=8, ring=1) from hash-chosen query nodes to
    hash-chosen stop nodes. Tile and kNN do the work; stitch and
    hydrate do none. The traced run also times the dedup layers."""

    name = "tiles"
    item_unit = "pages"
    warmup_jobs = Routes.warmup_jobs

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.smoke = smoke
        self._routes = Routes(seed, smoke)
        self._expected = None

    def load(self, spark) -> Input:
        return self._routes.load(spark)

    def _tile(self, nodes: DataFrame) -> DataFrame:
        return with_cells(nodes, h3_res=9, s2_level=16)

    def _knn(self, nodes: DataFrame) -> DataFrame:
        h = inputs.id_hash_col(F.col("id"), self.seed)
        queries = nodes.filter(h % QUERY_MOD == 0)
        stops = nodes.filter(F.floor(h / 256) % STOP_MOD == 0)
        return knn_join(
            queries, stops, k=1, res=KNN_RES, ring=KNN_RING, exact_fallback=False
        )

    def job(self, spark, inp: Input):
        nodes = extract_nodes_sql(inp.df)
        cells = tuple(
            self._tile(nodes)
            .agg(F.countDistinct("h3_cell"), F.countDistinct("s2_cell"))
            .first()
        )
        found = {r[0]: r[1] for r in self._knn(nodes).select("query_id", "dist_m").collect()}
        return cells, found

    def expected(self, inp: Input) -> dict:
        """Distinct cell counts and each query's brute-force nearest stop,
        computed in numpy over the generated nodes."""
        if self._expected is None:
            ids, lat, lon = _node_coords(inp.extra["entities"][0])
            h = inputs.id_hash(ids, self.seed)
            q = h % QUERY_MOD == 0
            s = (h // 256) % STOP_MOD == 0
            qids = ids[q].tolist()
            covered = np.minimum(
                h3x.ring_guaranteed_m(KNN_RING, KNN_RES),
                h3x.face_edge_distance_m(lat[q], lon[q]),
            )
            self._expected = {
                "cells": (
                    len(np.unique(h3x.latlng_to_cell(lat, lon, 9))),
                    len(np.unique(s2x.cell_id(lat, lon, 16))),
                ),
                "true_m": dict(zip(qids, checks.nearest_m(lat[q], lon[q], lat[s], lon[s]))),
                "covered_m": dict(zip(qids, covered)),
            }
        return self._expected

    def check(self, out, inp: Input) -> list[str]:
        cells, found = out
        want = self.expected(inp)
        return checks.check_cells(cells, want["cells"]) + checks.check_ring_knn(
            found, want["true_m"], want["covered_m"]
        )

    def cut(self, spark, inp: Input, tr) -> tuple[dict, list[str]]:
        with tr.span("cut"):
            with tr.span("extract.nodes"):
                nodes = _force(extract_nodes_sql(inp.df))
            with tr.span("tile"):
                cells = _force(self._tile(nodes))
            with tr.span("knn.ring"):
                ring = _force(self._knn(nodes))
        want = self.expected(inp)
        found = {r[0]: r[1] for r in ring.select("query_id", "dist_m").collect()}
        escalated = sum(
            1 for q, c in want["covered_m"].items() if found.get(q, np.inf) > c
        )
        m = {
            "extract.nodes_s": tr.self_seconds("extract.nodes"),
            "extract.nodes_rows": nodes.count(),
            "tile.s": tr.self_seconds("tile"),
            "tile.points": cells.count(),
            "knn.ring_s": tr.self_seconds("knn.ring"),
            "knn.queries": len(want["true_m"]),
            "knn.escalated_frac": escalated / max(1, len(want["true_m"])),
        }
        got_cells = tuple(
            cells.agg(F.countDistinct("h3_cell"), F.countDistinct("s2_cell")).first()
        )
        problems = checks.check_cells(got_cells, want["cells"]) + checks.check_ring_knn(
            found, want["true_m"], want["covered_m"]
        )
        # not part of the tiles job: timed outside the cut root span,
        # on the dedup workload's input for this seed
        dedup = Dedup(self.seed, self.smoke)
        dm, dproblems = dedup_layers(dedup.load(spark), tr)
        m.update(dm)
        return m, problems + dproblems


class Dedup:
    """Random-word documents with planted near-duplicate chains ->
    near_dup_clusters(threshold=0.5). Signature, band, verify and
    components do all the work; no geo layer runs.

    Not among BENCHMARK.json's workloads: on some seeds
    minhash_lsh_pairs misses a planted pair (see README.md), so the
    planted-variant check fails. ``--workload dedup`` still runs it
    with that check; the tiles traced run times its layers."""

    name = "dedup"
    item_unit = "documents"
    # the job after one warm-up job already runs near steady state, and
    # a second warm-up job (~17 s) would not fit the run's time budget
    warmup_jobs = 1

    def __init__(self, seed: int, smoke: bool):
        self.seed = seed
        self.n_docs = 80 if smoke else 300

    def load(self, spark) -> Input:
        docs, origin = inputs.documents(self.n_docs, self.seed)
        df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
        return Input(df, df.count(), {"docs": docs, "origin": origin})

    def job(self, spark, inp: Input):
        return [tuple(r) for r in near_dup_clusters(inp.df, threshold=THRESHOLD).collect()]

    def check(self, out, inp: Input) -> list[str]:
        return checks.check_clusters(out, inp.extra["docs"], inp.extra["origin"], THRESHOLD)

    def cut(self, spark, inp: Input, tr) -> tuple[dict, list[str]]:
        with tr.span("cut"):
            return dedup_layers(inp, tr)


def dedup_layers(inp: Input, tr) -> tuple[dict, list[str]]:
    """Time minhash_lsh_pairs and connected_components, each in its own
    span under the currently open one. Checked: every reported pair's
    exact shingle counts, and the components against the components of
    the reported pairs. ``components.planted_missed`` counts planted
    variants outside their original's component (a recall figure, not
    a check: the pair search is approximate)."""
    obs = Observation("perfbench_band")
    with tr.span("minhash"):
        pairs = _force(minhash_lsh_pairs(inp.df, threshold=THRESHOLD, observation=obs))
    with tr.span("components"):
        comp = connected_components(pairs, "id_a", "id_b")
        call_jobs = len(tr.current_jobs())
        comp = _force(comp)
    band = _observed(obs)
    kept, dropped = band.get("minhash_rows_kept", 0), band.get("minhash_rows_dropped", 0)
    got_pairs = [
        tuple(r) for r in pairs.select("id_a", "id_b", "n_common", "n_union").collect()
    ]
    got_comp = dict(tuple(r) for r in comp.select("node", "component").collect())
    origin = inp.extra["origin"]
    m = {
        "minhash.s": tr.self_seconds("minhash"),
        "components.s": tr.self_seconds("components"),
        "components.jobs": call_jobs,
        "components.planted_missed": sum(
            1 for v, o in origin.items() if got_comp.get(v, v) != got_comp.get(o, o)
        ),
        "band.rows_dropped": dropped,
        "band.drop_ratio": dropped / max(1, kept + dropped),
        "verify.pairs": len(got_pairs),
    }
    problems = checks.check_pairs(got_pairs, inp.extra["docs"], THRESHOLD)
    problems += checks.check_components(got_comp, [p[:2] for p in got_pairs])
    return m, problems


WORKLOADS = {w.name: w for w in (Routes, Tiles, Dedup)}


def _force(df: DataFrame) -> DataFrame:
    """Cache ``df`` and materialize it with ``count()``."""
    df = df.cache()
    df.count()
    return df


def _node_coords(nodes):
    ids = np.array([n["id"] for n in nodes], dtype=np.int64)
    lat = np.array([n["lat"] for n in nodes])
    lon = np.array([n["lon"] for n in nodes])
    return ids, lat, lon


def _observed(obs: Observation, timeout_s: float = 60.0) -> dict:
    """``obs.get`` with a time limit: it blocks until the observed plan
    has run, which a plan change could make never happen."""
    box: dict = {}
    t = threading.Thread(target=lambda: box.update(obs.get), daemon=True)
    t.start()
    t.join(timeout_s)
    if t.is_alive():
        raise TimeoutError("band observation not populated")
    return box
