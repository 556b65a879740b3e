"""Tests of the benchmark's own helpers: ``python3 -m pytest perfbench``."""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import pytest  # noqa: E402

import run  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402
from tracer import Tracer  # noqa: E402


@pytest.mark.parametrize("n,expected", [
    (0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)])
def test_supported_percentile_needs_ten_samples_beyond(n, expected):
    assert stats.supported_percentile(n) == expected


def test_latency_summary_pools_samples_and_counts_them():
    s = stats.latency_summary([i / 1000 for i in range(1, 101)])
    assert s["n"] == 100
    assert s["p50_ms"] == pytest.approx(50.5)
    assert s["p90_ms"] == pytest.approx(90.1)
    assert s["supported"] == 90.0


def test_refused_post_counts_as_failed(tmp_path):
    from otel_arrow_collector_spark.sources.http_receiver import \
        OtlpHttpReceiver

    from relay import post
    rcv = OtlpHttpReceiver(str(tmp_path), max_pending_files=1)
    _, port = rcv.start()
    try:
        body = spans.request_bodies(3, 1, 5)[0][0]
        tally = stats.Tally()
        tally.post(post(port, b"\xff\xff"))     # malformed: 400
        tally.post(post(port, body))            # accepted and spooled
        tally.post(post(port, body))            # spool full: 503
    finally:
        rcv.stop()
    assert (tally.attempted, tally.failed) == (3, 2)
    assert "HTTP 400" in tally.reasons[0] and "HTTP 503" in tally.reasons[1]


def test_wrong_query_result_counts_as_failed():
    import queries

    class Result:
        columns = ["a", "b"]
        dtypes = [("a", "bigint"), ("b", "string")]

        def __init__(self, rows):
            self._rows = rows

        def collect(self):
            return self._rows

    oracle = "SELECT * FROM (VALUES (1::BIGINT, 'x'), (2, 'y')) t(a, b)"
    tally = stats.Tally()
    ref = queries._check_oracle(HERE, {
        "right": Result([(2, "y"), (1, "x")]),
        "wrong": Result([(1, "x"), (3, "y")]),
    }, {"right": oracle, "wrong": oracle}, tally)
    assert (tally.attempted, tally.failed) == (2, 1)
    assert list(ref) == ["right"]
    assert ref["right"] == stats.rows_digest(["b", "a"], [("x", 1), ("y", 2)])


def test_span_generator_is_a_function_of_the_seed():
    a, rows = spans.request_bodies(7, 3, 10)
    assert a == spans.request_bodies(7, 3, 10)[0]
    assert a != spans.request_bodies(8, 3, 10)[0]
    assert len(set(a)) == 3
    attrs = rows[0][0]["attributes"]
    assert len(attrs) == spans.N_ATTRIBUTES and "secret" in attrs


def test_relayed_spans_match_the_decoded_wire_form():
    from otel_arrow_collector_spark.sources.otlp_pb import decode_request
    bodies, rows = spans.request_bodies(1, 1, 4)
    got = decode_request(bodies[0], "traces")
    assert [r["span_id"] for r in got] == [r["span_id"] for r in rows[0]]
    assert all(g["attributes"] == r["attributes"]
               for g, r in zip(got, rows[0]))
    relayed = spans.relayed(rows[0][0])
    assert "secret" not in relayed and relayed["env"]["s"] == "prod"


def test_tracer_links_parents_and_filters_durations():
    tr = Tracer(True)
    with tr.span("outer", group="g"):
        with tr.span("inner", group="g", phase="cold"):
            pass
        with tr.span("inner", group="g", phase="warm"):
            pass
    outer, = (s for s in tr.spans if s["name"] == "outer")
    assert all(s["parent"] == outer["id"] for s in tr.spans
               if s["name"] == "inner")
    assert len(tr.durations("inner")) == 2
    assert len(tr.durations("inner", phase="warm")) == 1
    off = Tracer(False)
    with off.span("x"):
        pass
    with tr.spans_if(False)("y"):
        pass
    assert off.spans == [] and len(tr.spans) == 3


def test_benchmark_json_names_the_metrics_the_runner_reports():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
