#!/usr/bin/env python3
"""graft's benchmark: one command per workload, answers checked, every
metric printed by name and unit.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each exists):
  rpc_mixed  nproc closed-loop WebSocket clients against the shipped
             graft.api.RpcServer main: nproc - 1 run whole sessions, one
             grows a table by 100-row inserts.
  ops_sf001  one in-process client making warm passes over operator keys
             on seeded TPC-H-ish data at scale factor 0.01.

With --trace 0 the last stdout line carries the end-to-end metrics.
With --trace 1 the workload runs untraced and then traced with the same
seed; the last line carries the per-layer metrics, and the spans are
written under perfbench/.work/runs/<workload>/traced/.

Builds graft from the checkout's sources on first use (offline sbt).
Exits 1 when any answer is wrong or any request fails (after printing
the result line), and without a result line when it cannot run at all.
"""
import argparse
import json
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import jvm  # noqa: E402
import ops  # noqa: E402
import rpc  # noqa: E402
import layers  # noqa: E402

# The process is launched this many times at once per run, the workload's
# own process among them; setup_s is the median of their set-up times.
SETUP_LAUNCHES = 3
CLIENTS = len(os.sched_getaffinity(0))
# Inserts per ingest cycle; an aggregate runs every 10 of them.
INGEST_INSERTS = 30


def start_server(cp, workdir, traced=False):
    """Launch the shipped RpcServer main (or the traced server) on WebSocket."""
    main, extra = "perfbench.Launch", []
    if traced:
        main, extra = "perfbench.TracedRpcServer", ["--spans", os.path.join(workdir, "spans.jsonl")]
    return jvm.Jvm(cp, main, ["--transport", f"ws://localhost:{jvm.free_port()}", *extra], workdir)


def port_of(j):
    return int(j.proc.args[j.proc.args.index("--transport") + 1].rsplit(":", 1)[1])


def first_response(j):
    """Seconds from a server's launch to its first successful response
    (a bq.ping)."""
    deadline = time.monotonic() + 170
    while True:
        try:
            client = rpc.WsClient(port_of(j))
            break
        except OSError:
            if j.proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError(f"server did not start; see {j.workdir}/jvm.log")
            time.sleep(0.02)
    try:
        rpc.Session(client, "setup", []).call("bq.ping")
    finally:
        client.close()
    return time.monotonic() - j.t_launch


def run_rpc_mixed(cp, seed, seconds, base, traced, launches):
    # The workload's server starts together with `launches - 1` set-up
    # probes, which are killed once they have answered.
    j = start_server(cp, jvm.fresh_dir(os.path.join(base, "traced" if traced else "server")), traced)
    probes = [start_server(cp, jvm.fresh_dir(os.path.join(base, f"setup{i}"))) for i in range(launches - 1)]
    with ThreadPoolExecutor(launches) as pool:
        setups = list(pool.map(first_response, [j, *probes]))
    for p in probes:
        p.kill()
    port = port_of(j)
    # One untimed session script and ingest cycle warm the JIT and
    # Spark's code caches.
    warm = rpc.Session(rpc.WsClient(port), "warm", [])
    warm.record = False
    rpc.session_script(warm, random.Random(f"{seed}/warm"))
    rpc.ingest_unit(rpc.INGEST_QUERY_EVERY)(warm, random.Random(f"{seed}/warm-ingest"))
    warm.call("bq.destroySession")
    warm.conn.close()
    units = [(f"c{c}", rpc.session_script) for c in range(CLIENTS - 1)] + [("i", rpc.ingest_unit(INGEST_INSERTS))]
    log, errors, busy = rpc.run_clients(lambda: rpc.WsClient(port), seed, units, seconds)
    # Closed-loop clients finish their last unit at different times, so
    # throughput is each client's requests over its own busy time, summed.
    rate = sum(sum(1 for e in log if e[5] and e[1].startswith(name + "-")) / t
               for (name, _), t in zip(units, busy) if t > 0)
    left = jvm.dag_dirs_bytes(j.workdir)
    # A traced server writes its spans once standard input closes.
    heap = None if traced else j.heap_live_mb()
    j.stop(grace=120 if traced else 0)
    return dict(log=log, errors=errors, rate=rate, elapsed=max(busy), setups=setups, heap=heap,
                workdir=j.workdir, dag_left_bytes=left)


WORKLOADS = {
    "rpc_mixed": run_rpc_mixed,
    "ops_sf001": ops.run,
}


def end_to_end(r):
    # A workload's requests are a fixed mix of kinds with latencies an
    # order of magnitude apart, so their median jumps between kinds; the
    # geometric mean moves smoothly with every kind (as TPC-H's power
    # metric does over its queries). Per-method medians and tails are
    # per-layer metrics (client.*).
    lat = [e[4] for e in r["log"] if e[5]]
    return {
        "setup_s": (statistics.median(r["setups"]), "s"),
        "requests_per_s": (r["rate"], "1/s"),
        "latency_gmean_ms": (statistics.geometric_mean(lat), "ms"),
        "heap_live_mb": (r["heap"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    jvm.stop_all_on_exit()

    cp = jvm.classpath()
    base = os.path.join(jvm.WORK, "runs", a.workload)
    run = WORKLOADS[a.workload]
    r = run(cp, a.seed, a.seconds, base, traced=False, launches=1 if a.trace else SETUP_LAUNCHES)
    results = [r]
    if a.trace:
        t = run(cp, a.seed, a.seconds, base, traced=True, launches=1)
        results.append(t)
        metrics = layers.per_layer(a.workload, r, t, CLIENTS)
    else:
        metrics = end_to_end(r)
    # Every error is one failed request or one wrong answer; a failed
    # request also ends the script it was in.
    attempted = sum(len(x["log"]) for x in results)
    errors = [e for x in results for e in x["errors"]]
    for e in errors:
        jvm.log(f"FAILED {e}")
    failed = len(errors)
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
