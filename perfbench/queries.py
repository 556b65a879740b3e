"""The corpus_queries workload: a closed loop over declared queries.

One client (this process) runs a fixed pool of registered queries
(``operators.collect_registry``) over seeded sf0.1 documents/embeddings
tables, in an order drawn from the seed for every pass.  The run goes:

1. three sessions, one after another; each is set up (session, registry,
   table plans: ``setup_s``) and runs the cold pass, the pool's first
   pass in that fresh session (``cold_pass_s``).  Both metrics are the
   median of the three; the first session also starts the JVM.
2. Every result of the first cold pass is checked against its DuckDB
   oracle; its digest is the reference for every later execution of the
   same query.
3. One untimed warm-up pass, then the timed window: a fixed number of
   passes sized to ``--seconds``.

A query error, an oracle mismatch or a digest mismatch each count as a
failed operation.
"""

from __future__ import annotations

import os
import random
import time

import tables
from sparkenv import group_counts, stage_floor, start_session, stop_session
from stats import latency_summary, median, rows_digest, timed_passes

#: documents/embeddings queries from the dedup, text, similarity and
#: curation modules.  A fixed pool: a pool drawn from the seed would make
#: the spread across seeds measure the draw, not the program; the seed
#: draws the tables and each pass's order.  ``dedup_minhash_lsh`` builds
#: the heavy MinHash band and candidate-pair substrates on its cold call
#: (``dedup.bands``, ``dedup.pairs``); ``text_vocab_overlap``,
#: ``temperature_mix`` and ``ann_lsh_buckets`` build light ones; the rest
#: are codegen SQL aggregates and projections over the corpus.
POOL = (
    "dedup_minhash_lsh", "text_vocab_overlap", "temperature_mix",
    "dedup_exact_stats", "text_token_stats", "text_langid",
    "ann_lsh_buckets", "embedding_quantize_int8", "shuffle_shards",
    "doc_chunks",
)

#: seconds one warm pass of the pool takes on a 4-core host.  The timed
#: window is the whole number of passes nearest to --seconds at that pace
#: (at least 2): the same work in every run, because warm-up is still
#: going on in the window and a pass more or less would move every
#: metric.
NOMINAL_PASS_S = 2.8


class _Collected:
    """A collected result in the shape ``oracle.compare`` reads, so the
    oracle check reuses the cold pass's rows instead of running the
    query again."""

    def __init__(self, df, rows):
        self.columns = list(df.columns)
        self.dtypes = df.dtypes
        self._rows = rows

    def collect(self):
        return self._rows


def _check_oracle(data_dir: str, results: dict, oracles: dict,
                  tally) -> dict:
    """Oracle-check every cold result; returns {query: digest} of those
    that match."""
    import duckdb

    from otel_arrow_collector_spark.oracle import (compare,
                                                   register_duckdb_views)
    ref = {}
    con = duckdb.connect()
    try:
        register_duckdb_views(con, data_dir)
        for name, collected in results.items():
            rep = compare(collected, con, oracles[name])
            ok = (rep["cols_match"] and rep["rowcount_match"]
                  and rep["values_match"])
            if tally.record(ok, f"{name}: oracle mismatch {rep}"[:300]):
                ref[name] = rows_digest(collected.columns,
                                        collected.collect())
    finally:
        con.close()
    return ref


def run(ctx) -> dict:
    from otel_arrow_collector_spark.operators import collect_registry
    from otel_arrow_collector_spark.operators.cache_registry import cache_len
    from otel_arrow_collector_spark.sources.tables import load_table

    tr, tally = ctx.tracer, ctx.tally
    data_dir = tables.write_tables(os.path.join(ctx.work, "data"), ctx.seed)
    rnd = random.Random(ctx.seed)
    seq = iter(range(1 << 30))
    ref: dict[str, str] = {}
    spark = queries = None

    def execute(name: str, traced: bool, phase: str) -> dict | None:
        """Build and collect one query; None when it raised."""
        qid = f"q{next(seq)}"
        sc = spark.sparkContext
        if traced:
            sc.setJobGroup(qid, name)
        c0 = cache_len()
        span = tr.spans_if(traced)
        try:
            with span("query", group=qid, query=name, phase=phase):
                t0 = time.perf_counter()
                with span("operators.build", group=qid, phase=phase):
                    df = queries[name](spark, data_dir)
                with span("spark.collect", group=qid, phase=phase):
                    rows = df.collect()
                t2 = time.perf_counter()
        except Exception as e:           # a failed query, counted below
            tally.record(False, f"{name}: {type(e).__name__}: {e}"[:300])
            return None
        rec = {"name": name, "latency": t2 - t0, "grew": cache_len() - c0,
               "df": df, "rows": rows}
        if traced:
            rec["counts"] = group_counts(sc, qid)
            tr.spans[-1].update(cache_growth=rec["grew"],
                                jobs_stages_tasks=rec["counts"])
        return rec

    def checked(rec) -> dict | None:
        if rec is None:
            return None
        good = ref.get(rec["name"]) == rows_digest(rec["df"].columns,
                                                   rec["rows"])
        tally.record(good, f"{rec['name']}: result digest differs")
        del rec["rows"], rec["df"]
        return rec

    def one_pass(traced: bool, phase: str) -> list[dict | None]:
        order = list(POOL)
        rnd.shuffle(order)
        return [execute(n, traced, phase) for n in order]

    setups, colds = [], []
    for i in range(ctx.sessions):
        if spark is not None:
            stop_session(spark)
        t0 = time.perf_counter()
        with tr.span("setup"):
            spark = start_session(ctx.work)
            queries, oracles = collect_registry()
            for t in tables.CORPUS:
                load_table(spark, data_dir, t)
        setups.append(time.perf_counter() - t0)
        recs = [r for r in one_pass(tr.enabled, f"cold{i}") if r]
        if i == 0:
            ref = _check_oracle(data_dir, {
                r["name"]: _Collected(r["df"], r["rows"]) for r in recs},
                oracles, tally)
        else:
            recs = [checked(r) for r in recs]
        colds.append(recs)

    # warm-up pass, then the timed passes; a traced run alternates traced
    # and untraced passes so tracing's own cost shows as the difference
    warm = [r for r in map(checked, one_pass(tr.enabled, "warm")) if r]
    timed, untraced, pass_s = [], [], []
    for p in range(timed_passes(ctx.seconds, NOMINAL_PASS_S)):
        traced = tr.enabled and p % 2 == 0
        t0 = time.perf_counter()
        recs = [r for r in map(checked, one_pass(traced, "warm")) if r]
        pass_s.append(time.perf_counter() - t0)
        (timed if traced or not tr.enabled else untraced).extend(recs)
    window = sum(pass_s)
    n_done = len(timed) + len(untraced)

    cold_s = [sum(r["latency"] for r in c) for c in colds]
    lat = latency_summary([r["latency"] for r in timed + untraced])
    e2e = {
        "setup_s": (median(setups), len(setups)),
        "cold_pass_s": (median(cold_s), len(cold_s)),
        "items_per_s": (n_done / window, n_done),
        "latency_p50_ms": (lat["p50_ms"], lat["n"]),
        "latency_p90_ms": (lat["p90_ms"], lat["n"]),
    }
    info = {"setup_each_s": setups, "cold_each_s": cold_s, "pass_s": pass_s,
            "window_s": window, "supported_percentile": lat["supported"],
            "pool": len(POOL)}

    layer = {}
    if tr.enabled:
        warm_recs = warm + timed
        warm_lat: dict[str, list[float]] = {}
        for r in warm_recs:
            warm_lat.setdefault(r["name"], []).append(r["latency"])
        counts = [r["counts"] for r in warm_recs]
        floor = stage_floor(spark)
        collect_ms = median(tr.durations("spark.collect", phase="warm")) * 1e3
        stages = median([c[1] for c in counts])
        traced_p50 = median([r["latency"] for r in timed])
        untraced_p50 = median([r["latency"] for r in untraced]) \
            if untraced else traced_p50
        layer = {
            "operators.build_ms":
                median(tr.durations("operators.build", phase="warm")) * 1e3,
            "operators.build_cold_s": median([
                sum(tr.durations("operators.build", phase=f"cold{i}"))
                for i in range(ctx.sessions)]),
            "spark.collect_ms": collect_ms,
            "spark.jobs_per_query": median([c[0] for c in counts]),
            "spark.stages_per_query": stages,
            "spark.tasks_per_query": median([c[2] for c in counts]),
            "spark.stage_floor_ms": floor["floor_s"] * 1e3,
            "spark.floor_share": stages * floor["floor_s"] * 1e3 / collect_ms,
            "cache_registry.builds_cold": median(
                [sum(r["grew"] for r in c) for c in colds]),
            "cache_registry.builds_warm":
                sum(r["grew"] for r in warm_recs + untraced),
            "cache_registry.build_s": median([
                sum(r["latency"] - median(warm_lat.get(r["name"], [0.0]))
                    for r in c if r["grew"] > 0) for c in colds]),
            "trace.overhead_pct":
                (traced_p50 - untraced_p50) / untraced_p50 * 100.0,
        }
        info["stage_probe_s"] = floor["probe_s"]
        info["traced_p50_ms"] = traced_p50 * 1e3
        info["untraced_p50_ms"] = untraced_p50 * 1e3
    stop_session(spark)
    return {"e2e": e2e, "layer": layer, "info": info}
