"""The in-process operator workload and its DuckDB correctness check."""
import json
import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import datagen
import jvm

SF = 0.01
# Operator keys named by the ROADMAP's directions 3-5 and the r17
# verdict, cut to what fits one run: a scan-aggregate, a multi-join, the
# text token tier and the DAG-backed curation pipeline.
KEYS = ["q1_pricing_summary", "q_tpch_q21", "text_oov_rate", "llm_curate_e2e_v2"]
# Untimed noop passes after the cold pass: the JIT is still compiling
# through the first warm pass (measured: it runs 15-20% slower than the
# passes after it).
WARMUP_PASSES = 1
# Timed passes are at least this many, so that every pass of 3.4 s or
# more gives the same count in a 10-second run (with a minimum of two,
# runs flipped between two and three passes).
MIN_PASSES = 3
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _ready(j):
    """Seconds from launch until the harness prints READY."""
    for line in j.proc.stdout:
        if line.startswith("READY "):
            return time.monotonic() - j.t_launch
    raise RuntimeError(f"ops harness did not start; see {j.workdir}/jvm.log")


def run(cp, seed, seconds, base, traced, launches):
    data = datagen.generate(os.path.join(jvm.WORK, "data", f"sf{SF}-seed{seed}"), SF, seed)
    args = ["--data", data, "--keys", ",".join(KEYS), "--seconds", str(seconds),
            "--min-passes", str(MIN_PASSES), "--warmup-passes", str(WARMUP_PASSES)]
    workdir = jvm.fresh_dir(os.path.join(base, "traced" if traced else "run"))
    j = jvm.Jvm(cp, "perfbench.OpsBench", args + ["--out", workdir, "--trace", "1" if traced else "0"],
                workdir, heap="3g")
    # Set-up probes start together with the workload's own process (as
    # for the RPC workloads) and are killed once they are ready.
    probes = []
    for i in range(launches - 1):
        w = jvm.fresh_dir(os.path.join(base, f"setup{i}"))
        probes.append(jvm.Jvm(cp, "perfbench.OpsBench", args + ["--out", w, "--setup-only"], w, heap="3g"))
    try:
        with ThreadPoolExecutor(launches) as pool:
            setups = list(pool.map(_ready, [j, *probes]))
        for p in probes:
            p.kill()
        j.proc.stdin.write("go\n")
        j.proc.stdin.flush()
        line = next((l for l in j.proc.stdout if l.startswith("RESULT ")), None)
        if line is None:
            raise RuntimeError(f"ops harness ended without a result; see {workdir}/jvm.log")
        result = json.loads(line[len("RESULT "):])
        jvm.log(f"ops: cold pass {sum(c['s'] for c in result['cold']):.1f}s, "
                f"{len(result['passes'])} warm passes, {time.monotonic() - j.t_launch:.1f}s since launch")
        heap = None if traced else j.heap_live_mb()
    finally:
        for p in probes:
            p.kill()
        j.stop(grace=30)
    jvm.log(f"ops: harness ended {time.monotonic() - j.t_launch:.1f}s after launch")
    log = [(f"op:{c['key']}", f"p{p}:{c['key']}", 0, 0, c["s"] * 1000, True)
           for p, calls in enumerate(result["passes"], 1) for c in calls]
    elapsed = sum(e[4] for e in log) / 1000
    return dict(log=log, errors=check(data, workdir), elapsed=elapsed, rate=len(log) / elapsed,
                setups=setups, heap=heap, workdir=workdir, result=result, dag_left_bytes=jvm.dag_dirs_bytes(workdir))


# Canonical form as in tools/compare_local.py: columns sorted by name,
# floats to 6 decimals, NULL/NaN as "NULL", rows sorted.
def _norm_cell(v):
    import pandas as pd
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return sorted(tuple(_norm_cell(v) for v in row) for row in df.itertuples(index=False, name=None))


def check(data, outdir):
    """Compare each key's cold-pass output with DuckDB running the key's
    oracle SQL over the same parquet. Returns one message per mismatch."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracle = json.load(open(os.path.join(outdir, "oracle_sql.json")))
    errors = []
    for key in KEYS:
        if key not in oracle:
            errors.append(f"{key}: no oracle query")
            continue
        try:
            spark_df = pd.read_parquet(os.path.join(outdir, key))
            duck_df = con.execute(oracle[key]).df()
        except Exception as e:  # noqa: BLE001 - a failed check is a failed operation
            errors.append(f"{key}: {type(e).__name__}: {e}")
            continue
        if sorted(spark_df.columns) != sorted(duck_df.columns):
            errors.append(f"{key}: columns {sorted(spark_df.columns)} vs {sorted(duck_df.columns)}")
            continue
        a, b = _canon(spark_df), _canon(duck_df)
        if a != b:
            diff = next((i for i, (x, y) in enumerate(zip(a, b)) if x != y), min(len(a), len(b)))
            errors.append(f"{key}: spark {len(a)} rows vs duckdb {len(b)}; first difference at row {diff}")
    return errors


def median_pass_s(result):
    return statistics.median(sum(c["s"] for c in calls) for calls in result["passes"])
