"""SQL (pure Catalyst) extraction must agree with the pandas/Arrow
extraction on the reference fixture — real OSM tags with unicode,
quotes, commas — and on synthetic pages."""

import pytest

from osmptparser_spark.sources import pages as P
from tests.fixture_util import load_entities


@pytest.fixture(scope="module")
def fixture_pages(spark):
    data = load_entities()
    return P.pages_df(
        spark, P.entities_to_pages(data["nodes"], data["ways"], data["relations"])
    ).cache()


def _rows(df, key="id"):
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=lambda d: d[key])


@pytest.mark.parametrize("from_html", [True, False])
def test_sql_equals_pandas_on_fixture(fixture_pages, from_html):
    for sql_fn, pd_fn in [
        (P.extract_nodes_sql, P.extract_nodes),
        (P.extract_ways_sql, P.extract_ways),
        (P.extract_relations_sql, P.extract_relations),
    ]:
        got = _rows(sql_fn(fixture_pages, from_html))
        want = _rows(pd_fn(fixture_pages, from_html))
        assert got == want, sql_fn.__name__


def test_sql_handles_pipes_inside_node_tags(spark):
    # node lines are immune to pipes in tag values (split limit)
    nodes = [{"id": 1, "lat": 1.5, "lon": 2.5, "tags": {"name": "a|b|c", "k": "v"}}]
    pages = P.pages_df(spark, P.entities_to_pages(nodes, [], []))
    row = P.extract_nodes_sql(pages).collect()[0]
    assert dict(row.tags) == {"name": "a|b|c", "k": "v"}
    row2 = P.extract_nodes(pages).collect()[0]
    assert dict(row2.tags) == dict(row.tags)


def test_pandas_path_handles_pipes_in_way_tags(spark):
    ways = [{"id": 7, "tags": {"note": "x|y"}, "info": {"k": "1"}, "refs": [1, 2]}]
    pages = P.pages_df(spark, P.entities_to_pages([], ways, []))
    for fn in (P.extract_ways, P.extract_ways_sql):
        row = fn(pages).collect()[0]
        assert dict(row.tags) == {"note": "x|y"}
        assert dict(row.info) == {"k": "1"}
        assert list(row.refs) == [1, 2]


@pytest.mark.parametrize("from_html", [True, False])
def test_sql_splits_tags_and_info_with_brace_pipe_brace_inside(spark, from_html):
    # '}|{' is also the boundary between the tags and info objects: a
    # tag/info key or value holding it must not mis-split the line
    odd = [
        ({"k": "v", "name": "a}|{b"}, {"user": "x"}),  # in a tag value
        ({"k": "v"}, {"user": "a}|{b}|{"}),  # in an info value
        ({"a}|{": "}|{", "z": "{}"}, {"q": '"}|{"', "w": "}|{|"}),  # keys, quotes
        ({"x": "y"}, {"v": "1"}),  # one boundary: the common case
        ({}, {"v": "}|{"}),
        ({"n": "}|{"}, {}),
    ]
    ways = [
        {"id": i, "tags": t, "info": f, "refs": [1, i]} for i, (t, f) in enumerate(odd)
    ]
    rels = [
        {"id": 100 + i, "tags": t, "info": f, "way_refs": [i], "stop_refs": [1]}
        for i, (t, f) in enumerate(odd)
    ]
    pages = P.pages_df(spark, P.entities_to_pages([], ways, rels, 4))
    for sql_fn, pd_fn in [
        (P.extract_ways_sql, P.extract_ways),
        (P.extract_relations_sql, P.extract_relations),
    ]:
        got = _rows(sql_fn(pages, from_html))
        assert got == _rows(pd_fn(pages, from_html)), sql_fn.__name__
        assert [(r["tags"], r["info"]) for r in got] == odd, sql_fn.__name__
    line = 'OSMWAY|1|1,2|{"k":"v","name":"a}|{b"}|{"user":"x"}'
    row = P.extract_ways_sql(P.pages_df(spark, [_page(line)]), from_html).collect()[0]
    assert dict(row.tags) == {"k": "v", "name": "a}|{b"}
    assert dict(row.info) == {"user": "x"}


def _page(text):
    html = (P.PAGE_PREFIX + text + P.PAGE_SUFFIX).encode("utf-8")
    return ("https://fixture.test/bad/0", P._EPOCH, html, text, "en")


@pytest.mark.parametrize("from_html", [True, False])
def test_sql_drops_lines_with_malformed_numbers(spark, from_html):
    # Spark 4 runs ANSI casts: one bad numeric field used to fail the
    # whole job with CAST_INVALID_INPUT. Bad ids and coordinates now
    # drop their line; a bad member ref is a null element, which the
    # hydration joins drop like a dangling ref.
    text = "\n".join(
        [
            "GEOPAGE|0|mixed|9",
            'OSMNODE|1|1.5|2.5|{"k":"v"}',
            "OSMNODE|x1|1.5|2.5|{}",
            "OSMNODE|2|abc|2.5|{}",
            "OSMNODE|3|1.5||{}",
            "OSMNODE|4",
            "OSMNODE|5|-0.25|3e2|{}",
            'OSMWAY|7|1,5|{}|{"version":"2"}',
            "OSMWAY|7x|1,5|{}|{}",
            "OSMWAY|8|1,q,5|{}|{}",
            'OSMREL|9|7|1|{"name":"r"}|{}',
            "OSMREL||7|1|{}|{}",
        ]
    )
    pages = P.pages_df(spark, [_page(text)])
    nodes = _rows(P.extract_nodes_sql(pages, from_html))
    assert nodes == [
        {"id": 1, "lat": 1.5, "lon": 2.5, "tags": {"k": "v"}},
        {"id": 5, "lat": -0.25, "lon": 300.0, "tags": {}},
    ]
    ways = _rows(P.extract_ways_sql(pages, from_html))
    assert ways == [
        {"id": 7, "tags": {}, "info": {"version": "2"}, "refs": [1, 5]},
        {"id": 8, "tags": {}, "info": {}, "refs": [1, None, 5]},
    ]
    rels = _rows(P.extract_relations_sql(pages, from_html))
    assert rels == [
        {"id": 9, "tags": {"name": "r"}, "info": {}, "way_refs": [7], "stop_refs": [1]}
    ]
