"""The relay workload's server process: two OTLP/HTTP receivers.

    python3 perfbench/receivers.py ROOT INGEST_SPOOL SINK_SPOOL

``INGEST_SPOOL`` takes the generator's POSTs; ``SINK_SPOOL`` takes the
relay's exports.  Prints ``READY <ingest_port> <sink_port>`` once both
listen, and serves until its standard input is closed.  Running them
outside the benchmark process keeps their request handling off the
generator's interpreter lock.
"""

from __future__ import annotations

import sys


def main() -> int:
    root, ingest_dir, sink_dir = sys.argv[1:4]
    sys.path.insert(0, root)
    from otel_arrow_collector_spark.sources.http_receiver import \
        OtlpHttpReceiver
    ingest, sink = OtlpHttpReceiver(ingest_dir), OtlpHttpReceiver(sink_dir)
    try:
        _, ingest_port = ingest.start()
        _, sink_port = sink.start()
        print(f"READY {ingest_port} {sink_port}", flush=True)
        sys.stdin.read()
    finally:
        ingest.stop()
        sink.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
