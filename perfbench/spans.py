"""Seeded OTLP trace requests for the relay workload.

Every span carries 20 attributes, the span shape of the reference's
published load test (BASELINE.md): ``env``, which the relay's first OTTL
statement overwrites, ``secret``, which its second statement deletes, and
18 more of mixed value types.  Rows use the engine's span row model
(``model.telemetry.SPAN_SCHEMA``), so they encode with the program's own
``encode_request``.
"""

from __future__ import annotations

import random

N_ATTRIBUTES = 20
_NAMES = ("GET /api/items", "POST /api/orders", "db.query", "cache.get",
          "queue.publish", "render")


def _value(kind: str, rnd: random.Random) -> dict:
    v = {"s": None, "i": None, "d": None, "b": None, "json": None}
    if kind == "s":
        v["s"] = "v%08x" % rnd.getrandbits(32)
    elif kind == "i":
        v["i"] = rnd.randrange(-10**9, 10**9)
    elif kind == "d":
        v["d"] = round(rnd.uniform(-1e3, 1e3), 6)
    else:
        v["b"] = rnd.random() < 0.5
    return v


def span_rows(seed: int, request: int, n_spans: int) -> list[dict]:
    """The spans of request number ``request``; a pure function of its
    arguments."""
    rnd = random.Random(f"{seed}/{request}")
    trace_id = "%032x" % rnd.getrandbits(128)
    t0 = 1_700_000_000_000_000_000 + request * 1_000_000_000
    resource = {"service.name": _value("s", rnd)}
    rows = []
    for i in range(n_spans):
        attrs = {"env": _value("s", rnd), "secret": _value("s", rnd)}
        for k in range(N_ATTRIBUTES - 2):
            attrs[f"attr.{k:02d}"] = _value("sidb"[k % 4], rnd)
        start = t0 + rnd.randrange(10**9)
        rows.append({
            "trace_id": trace_id,
            "span_id": "%016x" % rnd.getrandbits(64),
            "parent_span_id": None,
            "trace_state": "",
            "name": _NAMES[rnd.randrange(len(_NAMES))],
            "kind": 1 + i % 5,
            "start_time_unix_nano": start,
            "end_time_unix_nano": start + rnd.randrange(1, 10**8),
            "attributes": attrs,
            "dropped_attributes_count": 0,
            "events": [],
            "dropped_events_count": 0,
            "links": [],
            "dropped_links_count": 0,
            "status_code": rnd.randrange(3),
            "status_message": "",
            "resource_attributes": resource,
            "scope_name": "perfbench",
            "scope_version": "1",
        })
    return rows


def request_bodies(seed: int, n_requests: int,
                   n_spans: int) -> tuple[list[bytes], list[list[dict]]]:
    """``n_requests`` encoded ExportTraceServiceRequest bodies and the rows
    each one carries."""
    from otel_arrow_collector_spark.sources.otlp_pb import encode_request
    rows = [span_rows(seed, r, n_spans) for r in range(n_requests)]
    return [encode_request(rs, "traces") for rs in rows], rows


def relayed(row: dict) -> dict:
    """What the relay config makes of ``row``'s attributes: ``env`` set to
    "prod", ``secret`` removed, every other attribute unchanged."""
    attrs = {k: v for k, v in row["attributes"].items() if k != "secret"}
    attrs["env"] = {"s": "prod", "i": None, "d": None, "b": None,
                    "json": None}
    return attrs
