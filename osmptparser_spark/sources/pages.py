"""Common-Crawl-style pages source: synthesis + vectorized extraction (W1).

Per BASELINE.json ``input_hint`` the engine's source of truth is a table
``pages(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
lang STRING)``; geo entities are embedded in ``text`` with a
deterministic one-entity-per-line microformat (FIXTURES.md §2):

    GEOPAGE|<page_no>|<kind>|<n_entities>
    OSMNODE|id|lat|lon|tags_json
    OSMWAY|id|ref1,ref2,...|tags_json|info_json
    OSMREL|id|way_ref1,...|stop_ref1,...|tags_json|info_json

``tags_json``/``info_json`` are canonical JSON (sorted keys, no spaces);
floats print with ``repr`` round-trip precision so f64 survives exactly.
``html`` is the UTF-8 bytes of a fixed wrapper around ``text``;
extraction recovers ``text`` from ``html`` byte-identically (the
per-url invariant the north rule demands).

Extraction (``extract_*_sql``, all three from ``extract_all``) is the
engine's one extractor: pure Catalyst built from SQL text — split,
``try_cast`` and ``from_json`` inside whole-stage codegen, no Python.
The ``mapInPandas`` extractors (``extract_nodes`` and friends) are only
the reference the SQL path is tested against. At 100 TB scale this
stage is embarrassingly parallel (no shuffle); entity outputs go
straight into the semi-join/hydration pipeline.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from typing import Dict, Iterable, Iterator, List, Tuple

from pyspark.sql import DataFrame, SparkSession

PAGE_PREFIX = "<html><body><pre>"
PAGE_SUFFIX = "</pre></body></html>"
PAGES_DDL = "url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING"
_EPOCH = datetime(2020, 1, 1, tzinfo=timezone.utc)

NODES_DDL = "id BIGINT, lat DOUBLE, lon DOUBLE, tags MAP<STRING,STRING>"
WAYS_DDL = (
    "id BIGINT, tags MAP<STRING,STRING>, info MAP<STRING,STRING>, refs ARRAY<BIGINT>"
)
RELATIONS_DDL = (
    "id BIGINT, tags MAP<STRING,STRING>, info MAP<STRING,STRING>, "
    "way_refs ARRAY<BIGINT>, stop_refs ARRAY<BIGINT>"
)

_DECODER = json.JSONDecoder()


def canonical_json(d: Dict[str, str]) -> str:
    return json.dumps(d or {}, sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def _fmt_ids(ids: Iterable[int]) -> str:
    return ",".join(str(i) for i in ids)


def node_line(n: dict) -> str:
    return f"OSMNODE|{n['id']}|{n['lat']!r}|{n['lon']!r}|{canonical_json(n['tags'])}"


def way_line(w: dict) -> str:
    return (
        f"OSMWAY|{w['id']}|{_fmt_ids(w['refs'])}|"
        f"{canonical_json(w['tags'])}|{canonical_json(w.get('info', {}))}"
    )


def relation_line(r: dict, way_refs: List[int], stop_refs: List[int]) -> str:
    return (
        f"OSMREL|{r['id']}|{_fmt_ids(way_refs)}|{_fmt_ids(stop_refs)}|"
        f"{canonical_json(r['tags'])}|{canonical_json(r.get('info', {}))}"
    )


def entities_to_pages(
    nodes: List[dict],
    ways: List[dict],
    relations: List[dict],
    entities_per_page: int = 50,
) -> List[Tuple[str, datetime, bytes, str, str]]:
    """Deterministically pack entities into page rows (seedless: pure
    function of the input order)."""
    pages = []
    page_no = 0

    def emit(kind: str, lines: List[str]):
        nonlocal page_no
        for i in range(0, len(lines), entities_per_page):
            chunk = lines[i : i + entities_per_page]
            header = f"GEOPAGE|{page_no}|{kind}|{len(chunk)}"
            text = "\n".join([header] + chunk)
            html = (PAGE_PREFIX + text + PAGE_SUFFIX).encode("utf-8")
            url = f"https://fixture.test/{kind}/{page_no}"
            ts = datetime.fromtimestamp(
                _EPOCH.timestamp() + page_no, tz=timezone.utc
            )
            lang = "es" if page_no % 2 == 0 else "en"
            pages.append((url, ts, html, text, lang))
            page_no += 1

    emit("node", [node_line(n) for n in nodes])
    emit("way", [way_line(w) for w in ways])
    emit(
        "relation",
        [
            relation_line(
                r,
                [m[1] for m in r["members"] if m[2] == "way"],
                [m[1] for m in r["members"] if m[2] == "node"],
            )
            if "members" in r
            else relation_line(r, r["way_refs"], r["stop_refs"])
            for r in relations
        ],
    )
    return pages


def pages_df(spark: SparkSession, pages) -> DataFrame:
    from ..session import local_df

    return local_df(spark, pages, PAGES_DDL)


# --- extraction (W1) -----------------------------------------------------------


def extract_text_from_html(html_series):
    """Vectorized recovery of ``text`` from ``html`` (byte-identical)."""
    s = html_series.apply(lambda b: bytes(b).decode("utf-8"))
    return s.str.slice(len(PAGE_PREFIX), -len(PAGE_SUFFIX))


def _parse_json_tail(rest: str, n_json: int) -> List[dict]:
    """Parse ``|``-separated JSON objects robustly (values may contain
    pipes): raw_decode each object, expect a '|' between them."""
    out = []
    pos = 0
    for i in range(n_json):
        obj, end = _DECODER.raw_decode(rest, pos)
        out.append(obj)
        pos = end + 1  # skip the separating '|'
    return out


def _ids(s: str) -> List[int]:
    return [int(x) for x in s.split(",")] if s else []


def _iter_lines(pdf, from_html: bool):
    if from_html:
        texts = extract_text_from_html(pdf["html"])
    else:
        texts = pdf["text"]
    for text in texts:
        for line in text.split("\n"):
            yield line


def extract_nodes(pages: DataFrame, from_html: bool = True) -> DataFrame:
    import pandas as pd

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            rows = []
            for line in _iter_lines(pdf, from_html):
                if not line.startswith("OSMNODE|"):
                    continue
                _, nid, lat, lon, tags_json = line.split("|", 4)
                rows.append((int(nid), float(lat), float(lon), json.loads(tags_json)))
            yield pd.DataFrame(rows, columns=["id", "lat", "lon", "tags"])

    return pages.mapInPandas(gen, NODES_DDL)


def extract_ways(pages: DataFrame, from_html: bool = True) -> DataFrame:
    import pandas as pd

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            rows = []
            for line in _iter_lines(pdf, from_html):
                if not line.startswith("OSMWAY|"):
                    continue
                _, wid, refs, rest = line.split("|", 3)
                tags, info = _parse_json_tail(rest, 2)
                rows.append((int(wid), tags, info, _ids(refs)))
            yield pd.DataFrame(rows, columns=["id", "tags", "info", "refs"])

    return pages.mapInPandas(gen, WAYS_DDL)


def extract_relations(pages: DataFrame, from_html: bool = True) -> DataFrame:
    import pandas as pd

    def gen(batches: Iterator) -> Iterator:
        for pdf in batches:
            rows = []
            for line in _iter_lines(pdf, from_html):
                if not line.startswith("OSMREL|"):
                    continue
                _, rid, way_refs, stop_refs, rest = line.split("|", 4)
                tags, info = _parse_json_tail(rest, 2)
                rows.append((int(rid), tags, info, _ids(way_refs), _ids(stop_refs)))
            yield pd.DataFrame(
                rows, columns=["id", "tags", "info", "way_refs", "stop_refs"]
            )

    return pages.mapInPandas(gen, RELATIONS_DDL)


# --- JVM-side (pure Catalyst) extraction ----------------------------------------
#
# The pandas path above round-trips the whole html/text payload through
# Arrow->Python->Arrow; measured at ~39 s for 80k pages on local[32],
# the transfer alone dominates the (~2 s) parsing work. The expression
# path below keeps everything inside whole-stage codegen: substring to
# recover text from html (byte-identical), split to lines, split fields
# with a limit (pipes inside the trailing JSON survive), from_json for
# the tag/info maps.
#
# Every plan here is built from SQL text: one ``where``/``selectExpr``
# per operator. Building the same expressions as ``F.*`` Column trees
# costs one Py4J round trip per node (plus PySpark's per-call call-site
# capture), which made the lazy routes plan take longer to build than
# to run at small inputs.
#
# Numeric fields parse with ``try_cast``: a line whose id, lat or lon
# does not parse is dropped instead of failing the job with ANSI
# ``CAST_INVALID_INPUT``; a member ref that does not parse becomes a
# null element, which every downstream join drops like a dangling ref.
#
# Way/relation lines carry TWO trailing JSON objects ('tags|info'),
# split at the '}|{' boundary between them (``_json_pair``), which
# stays exact when a key or value holds that sequence too (node lines
# carry a single trailing JSON object).


def _field(n_fields: int, i: int) -> str:
    # ``get`` (not ``[]``) so a line with too few fields yields null
    # instead of an ANSI index error; the limit keeps pipes inside the
    # trailing JSON
    return f"get(split(line, '\\\\|', {n_fields}), {i})"


def _ids_expr(field: str) -> str:
    return (
        f"CASE WHEN {field} = '' THEN CAST(array() AS ARRAY<BIGINT>) "
        f"ELSE transform(split({field}, ','), v -> try_cast(v AS BIGINT)) END"
    )


def _json_map(field: str) -> str:
    """map<string,string> from a canonical-JSON field, with a fast
    path for the ubiquitous empty object: ``from_json('{}')`` and
    ``map()`` are the same value, and most entity lines carry no tags,
    so skipping the Jackson parse for the literal ``{}`` removes the
    per-line parser cost without changing any result."""
    return (
        f"CASE WHEN {field} = '{{}}' THEN map() "
        f"ELSE from_json({field}, 'map<string,string>') END"
    )


def _json_pair(rest: str) -> tuple[str, str]:
    """Split 'tags_json|info_json' at the '}|{' boundary between them.

    A tail with one '}|{' (every line whose keys and values lack the
    sequence) splits there. A tail with more splits at the first
    boundary whose tags prefix parses: canonical map<string,string>
    JSON has no nested objects, so any earlier cut falls inside a key
    or value, leaves an open string and parses to null. If no prefix
    parses, the first boundary is used."""
    cut = f"instr({rest}, '}}|{{')"
    pieces = f"split({rest}, '[}}][|][{{]')"  # regex for the literal '}|{'
    cuts = (
        f"transform(sequence(1, size({pieces}) - 1), "
        f"i -> length(array_join(slice({pieces}, 1, i), '}}|{{')) + 1)"
    )
    parsing = (
        f"get(filter({cuts}, p -> "
        f"from_json(substring({rest}, 1, p), 'map<string,string>') IS NOT NULL), 0)"
    )
    # one CASE for the cut, shared by both maps; the slow branch runs
    # only for tails with a second '}|{'
    pos = (
        f"CASE WHEN locate('}}|{{', {rest}, {cut} + 1) = 0 THEN {cut} "
        f"ELSE coalesce({parsing}, {cut}) END"
    )
    return (
        _json_map(f"substring({rest}, 1, {pos})"),
        _json_map(f"substr({rest}, {pos} + 2)"),
    )


def _extract(
    pages: DataFrame,
    from_html: bool,
    prefix: str,
    line_filter,
    fields: Dict[str, str],
    required: List[str],
) -> DataFrame:
    """One row per line starting with ``prefix`` whose ``required``
    fields parse: a projection of ``fields`` (name -> SQL expression
    over ``line``)."""
    # Sound page-level prefilter (round 6): a page with ANY matching
    # line necessarily contains the prefix bytes in its raw payload, so
    # non-matching pages are dropped BEFORE the decode+split+explode
    # (checked on the binary html / raw text column — no decode). Each
    # entity kind's scan now pays full line-splitting only for its own
    # pages instead of the whole corpus; may only over-select (the
    # exact per-line startswith below is unchanged).
    if from_html:
        pages = pages.where(f"contains(html, X'{prefix.encode('utf-8').hex()}')")
        text = (
            f"substring(decode(html, 'UTF-8'), {len(PAGE_PREFIX) + 1}, "
            f"length(decode(html, 'UTF-8')) - {len(PAGE_PREFIX) + len(PAGE_SUFFIX)})"
        )
    else:
        pages = pages.where(f"contains(text, '{prefix}')")
        text = "text"
    lines = pages.selectExpr(f"explode(split({text}, '\\n')) AS line")
    if line_filter is not None:
        # sound string prefilter (tagfilter.line_prefilter): drops lines
        # before any from_json parse; exact map filter re-applied later
        lines = lines.where(line_filter)
    parsed = " AND ".join(f"{fields[f]} IS NOT NULL" for f in required)
    return lines.where(f"startswith(line, '{prefix}') AND {parsed}").selectExpr(
        *(f"{e} AS {name}" for name, e in fields.items())
    )


def extract_nodes_sql(
    pages: DataFrame, from_html: bool = True, line_filter=None
) -> DataFrame:
    fields = {
        "id": f"try_cast({_field(5, 1)} AS BIGINT)",
        "lat": f"try_cast({_field(5, 2)} AS DOUBLE)",
        "lon": f"try_cast({_field(5, 3)} AS DOUBLE)",
        "tags": _json_map(_field(5, 4)),
    }
    return _extract(
        pages, from_html, "OSMNODE|", line_filter, fields, ["id", "lat", "lon"]
    )


def extract_ways_sql(
    pages: DataFrame, from_html: bool = True, line_filter=None
) -> DataFrame:
    tags, info = _json_pair(_field(4, 3))
    fields = {
        "id": f"try_cast({_field(4, 1)} AS BIGINT)",
        "tags": tags,
        "info": info,
        "refs": _ids_expr(_field(4, 2)),
    }
    return _extract(pages, from_html, "OSMWAY|", line_filter, fields, ["id"])


def extract_relations_sql(
    pages: DataFrame, from_html: bool = True, line_filter=None
) -> DataFrame:
    tags, info = _json_pair(_field(5, 4))
    fields = {
        "id": f"try_cast({_field(5, 1)} AS BIGINT)",
        "tags": tags,
        "info": info,
        "way_refs": _ids_expr(_field(5, 2)),
        "stop_refs": _ids_expr(_field(5, 3)),
    }
    return _extract(pages, from_html, "OSMREL|", line_filter, fields, ["id"])


def extract_all(pages: DataFrame, from_html: bool = True):
    """One call -> (nodes, ways, relations), extracted in SQL."""
    return (
        extract_nodes_sql(pages, from_html),
        extract_ways_sql(pages, from_html),
        extract_relations_sql(pages, from_html),
    )
