"""Closed-loop monitoring client and CPU-speed sampler, run as its own process.

    python3 perfbench/monitor.py THINK_S READY_FILE START_FILE STOP_FILE

Creates READY_FILE once started. Until START_FILE exists it only samples
CPU speed, once every THINK_S. START_FILE holds the base URL of a
DatastreamRestServer; from then on it alternates GET /health and GET
/metrics, waiting THINK_S between calls and sampling CPU speed after each,
until STOP_FILE exists. Then it prints one JSON object: each call's kind,
wall-clock start and end and whether it got a 2xx reply, and each CPU-speed
sample with its wall-clock time.

A CPU-speed sample is the thread CPU time (not wall time, so preemption
does not count) of a fixed pure-Python loop of PROBE_ITERS iterations.
"""

from __future__ import annotations

import json
import os
import sys
import time

from brooklin_spark.rest_client import DatastreamRestClient, DatastreamRestError

#: iterations of the CPU-speed probe (1.2-2.2 ms on the reference host)
PROBE_ITERS = 20_000


def cpu_probe_s() -> float:
    t = time.thread_time()
    acc = 0
    for i in range(PROBE_ITERS):
        acc += i * i
    return time.thread_time() - t


def main(argv: list[str]) -> int:
    think, ready_file, start_file, stop_file = float(argv[0]), argv[1], argv[2], argv[3]
    probes = []
    open(ready_file, "w").close()
    while not os.path.exists(start_file) and not os.path.exists(stop_file):
        probes.append((time.time(), cpu_probe_s()))
        time.sleep(think)
    spans = []
    if os.path.exists(start_file):
        with open(start_file) as f:
            client = DatastreamRestClient(f.read().strip(), timeout=60)
        calls = (
            ("health", client.health),
            # /metrics has no client method
            ("metrics", lambda: client._call("GET", "/metrics")),  # noqa: SLF001
        )
        i = 0
        while not os.path.exists(stop_file):
            kind, call = calls[i % 2]
            i += 1
            t0 = time.time()
            try:
                call()
                ok = True
            except (DatastreamRestError, OSError):
                ok = False
            t1 = time.time()
            spans.append((kind, t0, t1, ok))
            probes.append((t1, cpu_probe_s()))
            time.sleep(think)
    print(json.dumps({"spans": spans, "probes": probes}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
