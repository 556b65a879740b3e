"""The otlp_relay workload: OTLP/HTTP ingest, then a collector relay.

One round is the write side then the read side of the collector path:

- ingest: this process POSTs the run's seeded OTLP/pb trace requests,
  one at a time, to an ``OtlpHttpReceiver`` in a child process
  (receivers.py), which validate-decodes, fsyncs and renames each one
  into its spool;
- relay: ``plans.collector.Collector.start`` runs ``relay_config`` (the
  shape of examples/otlp_relay.yaml: ``http_spool`` receiver, the two
  OTTL statements, ``memory_limiter``) and exports over OTLP/HTTP to a
  sink receiver in the same child process.

The run: three sessions, one after another; each is set up (receiver
process, Spark session, pipeline compile through ``Collector.dry_run``:
``setup_s``) and runs a cold round, the first round in that fresh
session (``cold_pass_s``).  Both metrics are the median of the three;
the first session also starts the JVM.  Then one warm-up round and the
timed rounds: a fixed number sized to ``--seconds``.  After every round
the ingest spool is emptied and the sink's new files are decoded and
compared with the posted spans; that check sits outside the timings.
"""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import sys
import time
from collections import Counter

import spans
from sparkenv import start_session, stop_session
from stats import latency_summary, median, timed_passes

N_REQUESTS = 52
SPANS_PER_REQUEST = 50
#: seconds one warm round takes on a 4-core host; the timed window is the
#: whole number of rounds nearest to --seconds at that pace (at least 2)
NOMINAL_ROUND_S = 3.2
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATEMENTS = ['set(attributes["env"], "prod")',
              'delete_key(attributes, "secret")']


def relay_config(ingest_dir: str, sink_port: int | None,
                 processors=("transform/scrub", "limiter")) -> dict:
    """The relay config; ``sink_port=None`` swaps the OTLP/HTTP exporter
    for a ``null`` one (a count), and ``processors`` may be a prefix of
    the chain: the traced run times these prefixes."""
    exporter = ({"kind": "http", "endpoint": f"http://127.0.0.1:{sink_port}"}
                if sink_port is not None else {"kind": "null"})
    return {
        "receivers": {"src/spool": {"kind": "http_spool", "path": ingest_dir,
                                    "signal": "traces"}},
        "processors": {
            "transform/scrub": {"kind": "transform",
                                "statements": list(STATEMENTS)},
            "limiter": {"kind": "memory_limiter", "limit_mib": 512,
                        "spike_limit_mib": 128}},
        "exporters": {"sink/out": exporter},
        "service": {"pipelines": {"relay": {
            "receivers": ["src/spool"],
            "processors": list(processors),
            "exporters": ["sink/out"]}}},
    }


class Receivers:
    """The child process holding the ingest and sink receivers."""

    def __init__(self, root: str, ingest_dir: str, sink_dir: str):
        here = os.path.dirname(os.path.abspath(__file__))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "receivers.py"), root,
             ingest_dir, sink_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        line = self.proc.stdout.readline().split()
        if not line or line[0] != "READY":
            self.close()
            raise RuntimeError("receiver process did not start")
        self.ingest_port, self.sink_port = int(line[1]), int(line[2])

    def status(self, port: int) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        try:
            conn.request("GET", "/status")
            return json.loads(conn.getresponse().read())
        finally:
            conn.close()

    def close(self) -> None:
        try:
            self.proc.stdin.close()
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def post(port: int, body: bytes) -> int:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("POST", "/v1/traces", body,
                     {"Content-Type": "application/x-protobuf"})
        resp = conn.getresponse()
        resp.read()
        return resp.status
    finally:
        conn.close()


def _files(d: str) -> list[str]:
    return sorted(os.path.join(d, f) for f in os.listdir(d)
                  if not f.startswith("."))


def run(ctx) -> dict:
    from otel_arrow_collector_spark.plans.collector import Collector
    from otel_arrow_collector_spark.sources.otlp_pb import decode_request

    tr, tally = ctx.tracer, ctx.tally
    bodies, posted = spans.request_bodies(ctx.seed, N_REQUESTS,
                                          SPANS_PER_REQUEST)
    n_spans = N_REQUESTS * SPANS_PER_REQUEST
    expected = {r["span_id"]: spans.relayed(r) for rs in posted for r in rs}
    cfg_path = os.path.join(ctx.work, "relay.json")

    setups, compile_s, colds = [], [], []
    rcv = spark = None
    seen_sink: set[str] = set()

    def one_round(rid: str, traced: bool, phase: str) -> dict:
        span = tr.spans_if(traced)
        lat = []
        with span("relay.round", group=rid, phase=phase):
            t0 = time.perf_counter()
            with span("http_receiver.ingest", group=rid, phase=phase):
                for body in bodies:
                    tp = time.perf_counter()
                    status = post(rcv.ingest_port, body)
                    lat.append(time.perf_counter() - tp)
                    tally.post(status, f"{rid} POST")
            t1 = time.perf_counter()
            with span("collector.start", group=rid, phase=phase):
                col = Collector(spark, cfg_path)
                res = col.start()["relay/sink/out"]
            t2 = time.perf_counter()
        col.shutdown()
        spooled = _files(ingest_pb)
        rec = {"ingest": t1 - t0, "export": t2 - t1, "lat": lat,
               "audit": res,
               "spool_bytes": sum(os.path.getsize(f) for f in spooled)}
        for f in spooled:
            os.remove(f)
        check(rid, rec)
        return rec

    def check(rid: str, rec: dict) -> None:
        """The sink must hold exactly the posted spans, relayed."""
        new = [f for f in _files(sink_pb) if f not in seen_sink]
        seen_sink.update(new)
        got = []
        for f in new:
            with open(f, "rb") as fh:
                got.extend(decode_request(fh.read(), "traces"))
        ids = Counter(r["span_id"] for r in got)
        ok = (rec["audit"]["rows_sent"] == n_spans
              and len(got) == n_spans and set(ids) == set(expected)
              and bool(ids) and max(ids.values()) == 1
              and all(r["attributes"] == expected[r["span_id"]]
                      for r in got))
        tally.record(ok, f"{rid}: sink holds {len(got)} spans, "
                         f"{len(ids)} distinct, expected {n_spans}")

    try:
        for i in range(ctx.sessions):
            if rcv is not None:
                rcv.close()
                stop_session(spark)
            # each session's receivers number their spool files from 0,
            # so each gets its own spool directories
            ingest_dir = os.path.join(ctx.work, f"s{i}", "ingest")
            sink_dir = os.path.join(ctx.work, f"s{i}", "sink")
            ingest_pb = os.path.join(ingest_dir, "traces_pb")
            sink_pb = os.path.join(sink_dir, "traces_pb")
            t0 = time.perf_counter()
            with tr.span("setup"):
                rcv = Receivers(ROOT, ingest_dir, sink_dir)
                spark = start_session(ctx.work)
                with open(cfg_path, "w") as fh:
                    json.dump(relay_config(ingest_dir, rcv.sink_port), fh)
                tc = time.perf_counter()
                with tr.span("pipeline.compile"):
                    Collector.dry_run(spark, cfg_path)
                compile_s.append(time.perf_counter() - tc)
            setups.append(time.perf_counter() - t0)
            colds.append(one_round(f"cold{i}", tr.enabled, "cold"))

        one_round("warmup", tr.enabled, "warm")
        timed, untraced = [], []
        for i in range(timed_passes(ctx.seconds, NOMINAL_ROUND_S)):
            traced = tr.enabled and i % 2 == 0
            rec = one_round(f"r{i}", traced, "timed")
            (timed if traced or not tr.enabled else untraced).append(rec)
        rounds = timed + untraced
        spent = sum(r["ingest"] + r["export"] for r in rounds)

        ingest_s = sum(r["ingest"] for r in rounds)
        export_s = sum(r["export"] for r in rounds)
        lat = latency_summary([x for r in rounds for x in r["lat"]])
        e2e = {
            "setup_s": (median(setups), len(setups)),
            "cold_pass_s": (median([r["ingest"] + r["export"]
                                    for r in colds]), len(colds)),
            "items_per_s": (n_spans * len(rounds) / spent, len(rounds)),
            "latency_p50_ms": (lat["p50_ms"], lat["n"]),
            "latency_p90_ms": (lat["p90_ms"], lat["n"]),
            "ingest_spans_per_s": (n_spans * len(rounds) / ingest_s,
                                   len(rounds)),
            "export_spans_per_s": (n_spans * len(rounds) / export_s,
                                   len(rounds)),
        }
        info = {"setup_each_s": setups, "rounds": len(rounds),
                "cold_each_s": [r["ingest"] + r["export"] for r in colds],
                "window_s": spent, "requests_per_round": N_REQUESTS,
                "spans_per_request": SPANS_PER_REQUEST,
                "supported_percentile": lat["supported"]}
        layer = {}
        if tr.enabled:
            layer = _layers(ctx, spark, rcv, bodies, posted, timed,
                            untraced, ingest_dir, n_spans)
            layer["pipeline.compile_ms"] = median(compile_s) * 1e3
        return {"e2e": e2e, "layer": layer, "info": info}
    finally:
        if rcv is not None:
            rcv.close()
        if spark is not None:
            stop_session(spark)


def _layers(ctx, spark, rcv, bodies, posted, timed, untraced, ingest_dir,
            n_spans) -> dict:
    """Per-layer numbers of a traced run: codec rates on the run's own
    bodies, receiver counters, and relay prefixes: ``Collector.start``
    on configs that grow one step at a time (spool → null, + transform,
    + memory_limiter, then the OTLP/HTTP exporter in place of null), so
    each prefix runs the program's own pipeline, memory-limiter gate
    included.  Each layer's time is the difference of two prefixes (a
    difference below the noise can read slightly negative); the first
    prefix holds the collector's per-start set-up besides the spool
    read."""
    from otel_arrow_collector_spark.plans.collector import Collector
    from otel_arrow_collector_spark.sources.otlp_pb import (decode_request,
                                                            encode_request)
    tr = ctx.tracer

    def rate(fn, items) -> float:
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return items / median(times)

    with tr.span("otlp_pb.decode"):
        dec = rate(lambda: [decode_request(b, "traces") for b in bodies],
                   n_spans)
    with tr.span("otlp_pb.encode"):
        enc = rate(lambda: [encode_request(rs, "traces") for rs in posted],
                   n_spans)
    counters = rcv.status(rcv.ingest_port)["counters"]
    refused = sum(v for k, v in counters.items() if k.startswith("refused"))

    for body in bodies:                   # refill the spool for prefixes
        ctx.tally.post(post(rcv.ingest_port, body), "prefix POST")

    def prefix(name, sink_port, processors) -> float:
        """Median of three ``Collector.start`` runs of a relay prefix."""
        path = os.path.join(ctx.work, f"{name}.json")
        with open(path, "w") as fh:
            json.dump(relay_config(ingest_dir, sink_port, processors), fh)
        times = []
        for _ in range(3):
            col = Collector(spark, path)
            with tr.span(name, group="prefix"):
                t0 = time.perf_counter()
                col.start()
                times.append(time.perf_counter() - t0)
            col.shutdown()
        return median(times)

    p_read = prefix("prefix.read", None, ())
    p_tx = prefix("prefix.transform", None, ("transform/scrub",))
    p_admit = prefix("prefix.admit", None, ("transform/scrub", "limiter"))
    p_export = prefix("prefix.export", rcv.sink_port,
                      ("transform/scrub", "limiter"))
    for f in _files(os.path.join(ingest_dir, "traces_pb")):
        os.remove(f)

    tasks = median([r["audit"]["n_tasks"] for r in timed])
    slots = spark.sparkContext.defaultParallelism
    per_round = median([r["ingest"] + r["export"] for r in timed])
    plain = median([r["ingest"] + r["export"] for r in untraced]) \
        if untraced else per_round
    n = len(timed)
    return {
        "spark.relay_tasks": tasks,
        "spark.relay_waves": -(-tasks // slots),
        "otlp_pb.decode_spans_per_s": dec,
        "otlp_pb.encode_spans_per_s": enc,
        "http_receiver.ingest_spans_per_s": n_spans * n / sum(
            tr.durations("http_receiver.ingest", phase="timed")),
        "http_receiver.refused": refused,
        "http_receiver.spool_bytes_per_span":
            median([r["spool_bytes"] for r in timed]) / n_spans,
        "http_receiver.read_spool_s": p_read,
        "ottl.transform_s": p_tx - p_read,
        "memlimit.admit_s": p_admit - p_tx,
        "http_exporter.export_s": p_export - p_admit,
        "http_exporter.requests": sum(r["audit"]["n_requests"]
                                      for r in timed),
        "http_exporter.attempts": sum(r["audit"]["n_attempts"]
                                      for r in timed),
        "collector.export_spans_per_s": n_spans * n / sum(
            tr.durations("collector.start", phase="timed")),
        "trace.overhead_pct": (per_round - plain) / plain * 100.0,
    }
