"""Per-layer metrics from a traced run's spans.

Insert metrics (engine.insert_*, engine.table_partitions, client.insert_*)
come from the ingest client's requests only; the session clients' few
inserts into fresh tables would blur them.

Span tree of one RPC request (times are epoch microseconds):

  client request (Python, send to receive)
    transport      = client - api.process - inline tracing calls
    api.process    = RpcServer.processMessage
      api          = Json.parse + Json.write on the same payloads
      engine.rewrite = GraftSession.rewriteBqSyntax on the same SQL
      spark plan   = analysis + optimization + planning of the request's
                     query executions (QueryExecutionListener)
      spark exec   = union of the request's job intervals (SparkListener)
      engine       = the rest of api.process: dispatch, GraftSession,
                     Dag and result conversion
An operator call of ops_sf001 has the same Spark children; its
remainder is the harness and the operator's code outside Spark jobs.

A layer's self time is its span minus the time its children cover,
clipped at zero; `trace.self_sum_ms` adds every layer's self time so it
can be checked against `trace.client_ms`. Request and call counts that
feed a mean are reported beside it.
"""
import json
import os
import statistics
from collections import Counter, defaultdict

import ops
import stats

CLIENT_METHODS = {"query": "bq.query", "insert": "bq.insert", "dag_run": "bq.runDag"}

# Every per-layer metric, as BENCHMARK.json lists them: (name, unit).
METRICS = [
    ("api.json_parse_ms", "ms"), ("api.json_write_ms", "ms"), ("api.response_bytes", "bytes"),
    ("api.process_ms", "ms"), ("api.transport_ms", "ms"), ("api.requests", "count"),
    ("engine.rewrite_ms", "ms"), ("engine.insert_ms", "ms"), ("engine.table_partitions", "count"),
    ("engine.insert_copy_ratio", "ratio"), ("engine.dag_run_ms", "ms"), ("engine.dag_bytes_written", "bytes"),
    ("engine.dag_workdir_bytes_left", "bytes"),
    ("spark.analysis_ms", "ms"), ("spark.optimize_ms", "ms"), ("spark.planning_ms", "ms"),
    ("spark.jobs_per_query", "count"), ("spark.tasks_per_query", "count"), ("spark.task_ms", "ms"),
    ("spark.parallel_eff", "ratio"), ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.input_records", "count"), ("spark.gc_ms", "ms"), ("spark.persistent_rdds_left", "count"),
    ("spark.cached_blocks_left", "count"),
    ("ops.wall_s", "s"), ("ops.cold_pass_s", "s"), ("ops.passes", "count"),
    *[(f"ops.{k}_s", "s") for k in ops.KEYS],
    *[(f"client.{m}_{s}", u) for m in CLIENT_METHODS
      for s, u in (("count", "count"), ("p50_ms", "ms"), ("tail_ms", "ms"), ("tail_pct", "pct"))],
    *[(f"self.{k}_ms", "ms") for k in ("transport", "tracing", "api", "rewrite", "spark_plan", "spark_exec",
                                       "engine", "harness")],
    ("trace.self_sum_ms", "ms"), ("trace.client_ms", "ms"),
    ("trace.overhead_latency_pct", "%"), ("trace.overhead_rate_pct", "%"),
]


def _load(workdir):
    spans = defaultdict(list)
    with open(os.path.join(workdir, "spans.jsonl")) as f:
        for line in f:
            s = json.loads(line)
            spans[s["name"]].append(s)
    return spans


def _union_ms(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to [lo, hi]."""
    xs = sorted((max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
                for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in xs:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1000.0


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def _dur(s):
    return (s["end_us"] - s["start_us"]) / 1000.0


def _spark_by_rid(spans):
    """Jobs and query executions grouped by the request that ran them.
    A query execution belongs to the SQL execution whose plan shares
    most of its metric accumulator ids."""
    jobs = defaultdict(list)
    for j in spans["spark.job"]:
        jobs[j["rid"]].append(j)
    acc_exec, exec_rid = {}, {}
    for e in spans["spark.sqlexec"]:
        exec_rid[e["exec"]] = e["rid"]
        for a in e["accs"]:
            acc_exec.setdefault(a, e["exec"])
    queries = defaultdict(list)
    for q in spans["spark.query"]:
        hits = Counter(acc_exec[a] for a in q["accs"] if a in acc_exec)
        queries[exec_rid[hits.most_common(1)[0][0]] if hits else ""].append(q)
    return jobs, queries


def _spark_totals(jobs, n_ops, wall_ms, cores):
    all_jobs = [j for js in jobs.values() for j in js]
    task_ms = sum(j["task_ms"] for j in all_jobs)
    per = max(n_ops, 1)
    return {
        "spark.task_ms": (task_ms / per, "ms"),
        "spark.parallel_eff": (task_ms / (wall_ms * cores) if wall_ms else 0.0, "ratio"),
        "spark.shuffle_write_bytes": (sum(j["shuffle_write_bytes"] for j in all_jobs) / per, "bytes"),
        "spark.spill_bytes": (sum(j["spill_bytes"] for j in all_jobs) / per, "bytes"),
        "spark.input_records": (sum(j["input_records"] for j in all_jobs) / per, "count"),
        "spark.gc_ms": (sum(j["gc_ms"] for j in all_jobs) / per, "ms"),
    }


def _is_ingest(rid):
    return rid.startswith("i-")


def _client_metrics(log):
    """Per-method medians and tails; inserts are the ingest client's."""
    out = {}
    for short, method in CLIENT_METHODS.items():
        lat = [e[4] for e in log if e[0] == method and e[5] and (method != "bq.insert" or _is_ingest(e[1]))]
        p = stats.tail_percentile(len(lat)) if lat else None
        out[f"client.{short}_count"] = (len(lat), "count")
        out[f"client.{short}_p50_ms"] = (statistics.median(lat) if lat else 0.0, "ms")
        out[f"client.{short}_tail_ms"] = (stats.percentile(lat, p) if p else 0.0, "ms")
        out[f"client.{short}_tail_pct"] = (p or 0, "pct")
    return out


def _overhead(untraced, traced):
    def gmean(r):
        return statistics.geometric_mean(e[4] for e in r["log"] if e[5])

    return {
        "trace.overhead_latency_pct": (100.0 * (gmean(traced) - gmean(untraced)) / gmean(untraced), "%"),
        "trace.overhead_rate_pct": (100.0 * (untraced["rate"] - traced["rate"]) / untraced["rate"], "%"),
    }


def rpc_layers(untraced, traced, cores):
    spans = _load(traced["workdir"])
    jobs, queries = _spark_by_rid(spans)
    by = {name: {s["rid"]: s for s in spans[name]} for name in ("api.process", "api.json_parse", "api.json_write")}
    rewrite = {s["rid"]: _dur(s) for s in spans["engine.rewrite"]}
    client = {e[1]: e for e in traced["log"] if e[5]}
    rids = [r for r in client if r in by["api.process"]]
    self_t = defaultdict(float)
    per_method = defaultdict(lambda: defaultdict(list))
    for rid in rids:
        proc = by["api.process"][rid]
        method = proc["method"]
        parse = _dur(by["api.json_parse"][rid])
        write = _dur(by["api.json_write"][rid]) if rid in by["api.json_write"] else 0.0
        rw = rewrite.get(rid, 0.0)
        plan = sum(q["analysis_ms"] + q["optimize_ms"] + q["planning_ms"] for q in queries[rid])
        execute = _union_ms([(j["start_us"], j["end_us"]) for j in jobs[rid]], proc["start_us"], proc["end_us"])
        p_ms, c_ms = _dur(proc), client[rid][4]
        engine = max(0.0, p_ms - parse - write - rw - plan - execute)
        self_t["transport"] += max(0.0, c_ms - p_ms - parse - rw)
        self_t["tracing"] += parse + rw
        self_t["api"] += parse + write
        self_t["rewrite"] += rw
        self_t["spark_plan"] += plan
        self_t["spark_exec"] += execute
        self_t["engine"] += engine
        self_t["client"] += c_ms
        m = per_method["ingest " + method if _is_ingest(rid) else method]
        m["engine"].append(max(0.0, p_ms - parse - write))
        m["jobs"].append(len(jobs[rid]))
        m["tasks"].append(sum(j["tasks"] for j in jobs[rid]))
        m["plan"].append((sum(q["analysis_ms"] for q in queries[rid]), sum(q["optimize_ms"] for q in queries[rid]),
                          sum(q["planning_ms"] for q in queries[rid])))
        m["bytes_written"].append(sum(j["bytes_written"] for j in jobs[rid]))
        m["input_records"].append(sum(j["input_records"] for j in jobs[rid]))
        m["rows"].append(proc["rows"])
        m["snapshot_partitions"].append(max((q["snapshot_partitions"] for q in queries[rid]), default=0))
    q = {k: per_method["bq.query"][k] + per_method["ingest bq.query"][k] for k in ("jobs", "tasks", "plan")}
    ins, ingest_q, dag = per_method["ingest bq.insert"], per_method["ingest bq.query"], per_method["bq.runDag"]
    last = max(spans["api.process"], key=lambda s: s["end_us"])
    n = len(rids)
    out = {
        "api.json_parse_ms": (_mean([_dur(by["api.json_parse"][r]) for r in rids]), "ms"),
        "api.json_write_ms": (_mean([_dur(by["api.json_write"][r]) for r in rids if r in by["api.json_write"]]), "ms"),
        "api.response_bytes": (_mean([by["api.process"][r]["response_bytes"] for r in rids]), "bytes"),
        "api.process_ms": (_mean([_dur(by["api.process"][r]) for r in rids]), "ms"),
        "api.transport_ms": (self_t["transport"] / n, "ms"),
        "api.requests": (n, "count"),
        "engine.rewrite_ms": (_mean([rewrite[r] for r in rids if r in rewrite]), "ms"),
        "spark.analysis_ms": (_mean([p[0] for p in q["plan"]]), "ms"),
        "spark.optimize_ms": (_mean([p[1] for p in q["plan"]]), "ms"),
        "spark.planning_ms": (_mean([p[2] for p in q["plan"]]), "ms"),
        "spark.jobs_per_query": (_mean(q["jobs"]), "count"),
        "spark.tasks_per_query": (_mean(q["tasks"]), "count"),
        "engine.insert_ms": (_mean(ins["engine"]), "ms"),
        "engine.table_partitions": (max(ingest_q["snapshot_partitions"], default=0), "count"),
        # Rows a snapshot materializes: the earlier snapshot re-read from
        # cached blocks plus the rows the request inserts.
        "engine.insert_copy_ratio": ((sum(ins["input_records"]) + sum(ins["rows"])) / sum(ins["rows"])
                                     if sum(ins["rows"]) else 0.0, "ratio"),
        "engine.dag_run_ms": (_mean(dag["engine"]), "ms"),
        "engine.dag_bytes_written": (_mean(dag["bytes_written"]), "bytes"),
        "engine.dag_workdir_bytes_left": (untraced["dag_left_bytes"], "bytes"),
        "spark.persistent_rdds_left": (last["persistent_rdds"], "count"),
        "spark.cached_blocks_left": (last["cached_blocks"], "count"),
    }
    out.update(_spark_totals({r: jobs[r] for r in rids}, n, traced["elapsed"] * 1000, cores))
    for k in ("transport", "api", "rewrite", "spark_plan", "spark_exec", "engine", "tracing"):
        out[f"self.{k}_ms"] = (self_t[k], "ms")
    out["trace.self_sum_ms"] = (sum(v for k, v in self_t.items() if k != "client"), "ms")
    out["trace.client_ms"] = (self_t["client"], "ms")
    return out


def ops_layers(untraced, traced, cores):
    spans = _load(traced["workdir"])
    jobs, queries = _spark_by_rid(spans)
    calls = [c for c in spans["ops.call"] if c["rid"].startswith("p")]
    self_t = defaultdict(float)
    for c in calls:
        plan = sum(q["analysis_ms"] + q["optimize_ms"] + q["planning_ms"] for q in queries[c["rid"]])
        execute = _union_ms([(j["start_us"], j["end_us"]) for j in jobs[c["rid"]]], c["start_us"], c["end_us"])
        self_t["spark_plan"] += plan
        self_t["spark_exec"] += execute
        self_t["harness"] += max(0.0, _dur(c) - plan - execute)
        self_t["client"] += _dur(c)
    warm_jobs = {r: js for r, js in jobs.items() if r.startswith("p")}
    dag_rids = [c["rid"] for c in calls if c["key"] == "llm_curate_e2e_v2"]
    passes = traced["result"]["passes"]
    last_pass = [c for c in calls if c["rid"].startswith(f"p{len(passes)}:")]
    out = {
        "ops.wall_s": (ops.median_pass_s(traced["result"]), "s"),
        "ops.cold_pass_s": (sum(c["s"] for c in traced["result"]["cold"]), "s"),
        "ops.passes": (len(passes), "count"),
        "spark.analysis_ms": (_mean([sum(q["analysis_ms"] for q in queries[c["rid"]]) for c in calls]), "ms"),
        "spark.optimize_ms": (_mean([sum(q["optimize_ms"] for q in queries[c["rid"]]) for c in calls]), "ms"),
        "spark.planning_ms": (_mean([sum(q["planning_ms"] for q in queries[c["rid"]]) for c in calls]), "ms"),
        "spark.jobs_per_query": (_mean([len(jobs[c["rid"]]) for c in calls]), "count"),
        "spark.tasks_per_query": (_mean([sum(j["tasks"] for j in jobs[c["rid"]]) for c in calls]), "count"),
        "engine.dag_run_ms": (_mean([_dur(c) for c in calls if c["key"] == "llm_curate_e2e_v2"]), "ms"),
        "engine.dag_bytes_written": (_mean([sum(j["bytes_written"] for j in jobs[r]) for r in dag_rids]), "bytes"),
        "engine.dag_workdir_bytes_left": (untraced["dag_left_bytes"], "bytes"),
        "spark.persistent_rdds_left": (sum(c["persistent_rdds"] for c in last_pass), "count"),
        "spark.cached_blocks_left": (sum(c["cached_blocks"] for c in last_pass), "count"),
    }
    for key in ops.KEYS:
        out[f"ops.{key}_s"] = (statistics.median(c["s"] for p in passes for c in p if c["key"] == key), "s")
    out.update(_spark_totals(warm_jobs, len(calls), self_t["client"], cores))
    for k in ("spark_plan", "spark_exec", "harness"):
        out[f"self.{k}_ms"] = (self_t[k], "ms")
    out["trace.self_sum_ms"] = (self_t["spark_plan"] + self_t["spark_exec"] + self_t["harness"], "ms")
    out["trace.client_ms"] = (self_t["client"], "ms")
    return out


def per_layer(workload, untraced, traced, cores):
    """Every metric in METRICS; one of a layer the workload does not
    exercise reads 0."""
    got = ops_layers(untraced, traced, cores) if workload.startswith("ops") else rpc_layers(untraced, traced, cores)
    got.update(_client_metrics(untraced["log"]))
    got.update(_overhead(untraced, traced))
    assert all(got[n][1] == u for n, u in METRICS if n in got), "unit drift"
    assert set(got) <= {n for n, _ in METRICS}, sorted(set(got) - {n for n, _ in METRICS})
    return {n: (float(got[n][0]) if n in got else 0.0, u) for n, u in METRICS}
