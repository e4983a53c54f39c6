"""Building the lazy routes plan must stay cheap on the Python side.

Every Py4J command is a socket round trip to the JVM, and PySpark adds
call-site capture commands to most Column/DataFrame calls; a plan built
from trees of ``F.*`` calls and Python lambdas took ~2,760 of them,
longer than running the plan on small inputs. The SQL-text stages build
the same plan in a few hundred. The built plan must still reproduce the
reference goldens."""

import hashlib
import json
import threading

import pytest
from py4j.clientserver import ClientServerConnection

from osmptparser_spark.engine import routes_from_pages
from osmptparser_spark.functions.tagfilter import PTV2_FILTER
from osmptparser_spark.sources import pages as P
from tests.fixture_util import load_entities

MAX_PY4J_COMMANDS = 400


def _sha16(obj):
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()[:16]


@pytest.fixture(scope="module")
def fixture_pages(spark):
    data = load_entities()
    rows = P.entities_to_pages(data["nodes"], data["ways"], data["relations"])
    return P.pages_df(spark, rows).cache()


def test_routes_plan_build_py4j_commands(fixture_pages, monkeypatch):
    # Only commands sent by this thread count: py4j's finalizer thread
    # sends asynchronous object-release commands for garbage from
    # earlier work, whose number depends on when the GC ran.
    me = threading.get_ident()
    sent = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == me:
            sent.append(command[:1])
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    df = routes_from_pages(fixture_pages, 150.0, PTV2_FILTER)
    monkeypatch.undo()
    # a zero count means the commands went another way and were not seen
    assert 0 < len(sent) <= MAX_PY4J_COMMANDS, len(sent)

    r0, r1 = sorted(df.collect(), key=lambda r: r.id)
    assert (r0.id, r1.id) == (85965, 2030162)
    assert r0.status_code == 501 and r0.status_detail == "Broken"
    assert r0.geometry == [] and r0.node_seq == []
    assert len(r0.stops) == 31
    assert _sha16([s.id for s in r0.stops]) == "20d4a126e253c6ba"
    assert r1.status_code == 0 and r1.status_detail == ""
    assert _sha16([list(s) for s in r1.node_seq]) == "825a6368059b6fd6"
    first, last = r1.geometry[0][0], r1.geometry[0][-1]
    assert (round(first.lon, 6), round(first.lat, 6)) == (-79.930085, -2.155511)
    assert (round(last.lon, 6), round(last.lat, 6)) == (-79.952763, -2.152262)
    assert len(r1.stops) == 1
