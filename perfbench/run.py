"""sparkflow benchmark: one closed-loop workload per run, or both.

    python3 perfbench/run.py --workload corpus_queries --seed 1 \
        --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Workloads: ``corpus_queries`` (queries.py) and ``otlp_relay``
(relay.py).  Inputs are generated from ``--seed``.  The
timed window is a fixed number of passes (or relay rounds) sized to
``--seconds``.  With ``--trace 0`` the run reports the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of both workloads
(the other one runs traced in the same process after the named one),
derived from spans recorded around each layer call and written to
``.perfbench/traces/<workload>-seed<seed>.jsonl``.

Every metric is printed by name with its unit and sample count, then a
``perfbench-detail`` line with the host record, and last one JSON line
``{"correct", "attempted", "failed", "metrics"}``.  The exit code is 0
only when every output checked out.  ``--workload all`` runs each
workload in a fresh process and exits non-zero if any of them failed.
README.md lists every metric and what it should move.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("corpus_queries", "otlp_relay")

#: end-to-end metrics every workload reports, with their units
E2E = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "items_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}
#: end-to-end metrics of otlp_relay alone; printed, and reported in the
#: traced run as per-layer metrics of the receiver and the collector
RELAY_E2E = {
    "ingest_spans_per_s": "1/s",
    "export_spans_per_s": "1/s",
}
#: per-layer metrics of the traced run
PER_LAYER = {
    "operators.build_ms": "ms",
    "operators.build_cold_s": "s",
    "spark.collect_ms": "ms",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "spark.stage_floor_ms": "ms",
    "spark.floor_share": "ratio",
    "spark.relay_tasks": "count",
    "spark.relay_waves": "count",
    "cache_registry.builds_cold": "count",
    "cache_registry.builds_warm": "count",
    "cache_registry.build_s": "s",
    "otlp_pb.decode_spans_per_s": "1/s",
    "otlp_pb.encode_spans_per_s": "1/s",
    "http_receiver.ingest_spans_per_s": "1/s",
    "http_receiver.refused": "count",
    "http_receiver.spool_bytes_per_span": "B",
    "http_receiver.read_spool_s": "s",
    "ottl.transform_s": "s",
    "memlimit.admit_s": "s",
    "http_exporter.export_s": "s",
    "http_exporter.requests": "count",
    "http_exporter.attempts": "count",
    "collector.export_spans_per_s": "1/s",
    "pipeline.compile_ms": "ms",
    "host.calib_ms": "ms",
    "host.loadavg": "load",
    "trace.overhead_pct": "%",
}


@dataclasses.dataclass
class Ctx:
    """What a workload needs: its inputs' seed, the window length, the
    tracer, the operation tally, a private work directory and the number
    of sessions set up one after another (``setup_s`` and
    ``cold_pass_s`` are their medians)."""
    seed: int
    seconds: float
    tracer: object
    tally: object
    work: str
    sessions: int = 3


def _runner(workload: str):
    if workload == "otlp_relay":
        import relay
        return relay.run
    import queries
    return queries.run


def _run_one(workload: str, seed: int, seconds: float, trace: bool) -> int:
    try:
        import otel_arrow_collector_spark.operators as engine
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(engine.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine imported from {engine.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    import host
    from stats import Tally
    from tracer import Tracer

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{workload}-{seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    import sparkenv
    sparkenv.isolate(work)
    ctx = Ctx(seed, seconds, Tracer(trace), Tally(), work)
    calib_before = host.calibrate()
    try:
        res = _runner(workload)(ctx)
        if trace:
            # every traced run measures every layer: the other workload's
            # layers come from a traced run of it in the same process,
            # with one session (the JVM already runs) and the shortest
            # timed window (2 passes or rounds)
            for other in WORKLOADS:
                if other != workload:
                    short = dataclasses.replace(ctx, seconds=0, sessions=1)
                    res["layer"] = {**_runner(other)(short)["layer"],
                                    **res["layer"]}
    finally:
        sparkenv.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    calib_after = host.calibrate()
    rec = host.record()
    rec.update(calib_before_ms=calib_before, calib_after_ms=calib_after)

    tally = ctx.tally
    units = dict(E2E, **RELAY_E2E)
    print(f"perfbench {workload} seed={seed} trace={int(trace)}")
    for name, (value, n) in res["e2e"].items():
        print(f"  {name:<22} {value:14.4f} {units[name]:<6} n={n}")
    print(f"  attempted={tally.attempted} failed={tally.failed}")
    for why in tally.reasons:
        print(f"  FAILED: {why}")
    if trace:
        layer = res["layer"]
        layer["host.calib_ms"] = (calib_before + calib_after) / 2.0
        layer["host.loadavg"] = rec["loadavg_1m"]
        for name in PER_LAYER:
            print(f"  {name:<34} {layer[name]:14.4f} {PER_LAYER[name]}")
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        path = os.path.join(base, "traces", f"{workload}-seed{seed}.jsonl")
        ctx.tracer.write(path)
        print(f"  spans: {len(ctx.tracer.spans)} written to {path}")
        metrics = {k: {"value": float(layer[k]), "unit": PER_LAYER[k]}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": float(res["e2e"][k][0]), "unit": E2E[k]}
                   for k in E2E}
    correct = tally.failed == 0 and tally.attempted > 0
    print("perfbench-detail " + json.dumps({
        "workload": workload, "seed": seed, "host": rec,
        "info": res["info"],
        "e2e": {k: {"value": v, "unit": units[k], "n": n}
                for k, (v, n) in res["e2e"].items()}}, default=str))
    print(json.dumps({"correct": correct, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}),
          flush=True)
    return 0 if correct else 1


def _run_all(seed: int, seconds: float, trace: bool) -> int:
    """Each workload in a fresh process; one table of every metric."""
    rows, total_att, total_fail, ok = [], 0, 0, True
    for w in WORKLOADS:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(int(trace))],
            stdout=subprocess.PIPE, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        detail = next((json.loads(ln.split(" ", 1)[1]) for ln in lines
                       if ln.startswith("perfbench-detail ")), None)
        if proc.returncode != 0 or detail is None:
            ok = False
        if detail is None:
            print(f"{w}: no result (exit {proc.returncode})")
            continue
        last = json.loads(lines[-1])
        total_att += last["attempted"]
        total_fail += last["failed"]
        rows.append((w, detail, last, time.perf_counter() - t0))
    for w, detail, last, wall in rows:
        print(f"{w}  (attempted={last['attempted']} failed={last['failed']}"
              f" correct={last['correct']} wall={wall:.1f}s)")
        for name, m in detail["e2e"].items():
            print(f"  {name:<22} {m['value']:14.4f} {m['unit']:<6} "
                  f"n={m['n']}")
        if trace:
            for name, m in last["metrics"].items():
                print(f"  {name:<34} {m['value']:14.4f} {m['unit']}")
    print(json.dumps({"correct": ok and total_fail == 0,
                      "attempted": total_att, "failed": total_fail,
                      "workloads": {w: d["e2e"] for w, d, _, _ in rows}}))
    return 0 if ok and total_fail == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.workload == "all":
        return _run_all(a.seed, a.seconds, bool(a.trace))
    return _run_one(a.workload, a.seed, a.seconds, bool(a.trace))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
