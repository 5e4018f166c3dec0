"""JSON-RPC over WebSocket (the reference CLI's default transport) and
the rpc_mixed workload's two kinds of client.

Clients are closed loops: each sends its next request only after the
previous response arrives. Every answer is checked against values
computed here from the seeded inputs, after the response is timed.
"""
import base64
import json
import os
import random
import socket
import threading
import time

# Every client repeats its unit of work (a session script or an ingest
# cycle) at least this often, and until the run's seconds are up, so a
# run's mix of requests does not depend on timing.
MIN_UNITS = 2

GROUPS = ["g0", "g1", "g2", "g3", "g4", "g5", "g6", "g7"]
REGIONS = ["east", "north", "south", "west"]


class RpcError(Exception):
    pass


class Mismatch(Exception):
    pass


class WsClient:
    """RFC 6455 client: masked text frames out, server text frames in."""

    def __init__(self, port, timeout=120.0):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall((f"GET / HTTP/1.1\r\nHost: localhost:{port}\r\nUpgrade: websocket\r\n"
                           f"Connection: Upgrade\r\nSec-WebSocket-Key: {key}\r\n"
                           "Sec-WebSocket-Version: 13\r\n\r\n").encode())
        head = b""
        while not head.endswith(b"\r\n\r\n"):
            chunk = self.sock.recv(1)
            if not chunk:
                raise ConnectionError("closed during WebSocket handshake")
            head += chunk
        if b" 101 " not in head.split(b"\r\n")[0]:
            raise ConnectionError(f"WebSocket upgrade refused: {head[:80]!r}")

    def _recv_exact(self, n):
        buf = bytearray()
        while len(buf) < n:
            chunk = self.sock.recv(min(n - len(buf), 1 << 20))
            if not chunk:
                raise ConnectionError("WebSocket closed mid-frame")
            buf += chunk
        return bytes(buf)

    def _send_frame(self, op, payload):
        mask = os.urandom(4)
        n = len(payload)
        head = bytes([0x80 | op])
        if n <= 125:
            head += bytes([0x80 | n])
        elif n <= 0xFFFF:
            head += bytes([0x80 | 126]) + n.to_bytes(2, "big")
        else:
            head += bytes([0x80 | 127]) + n.to_bytes(8, "big")
        self.sock.sendall(head + mask + _mask(payload, mask))

    def call(self, text):
        self._send_frame(0x1, text.encode())
        parts = []
        while True:
            b0, b1 = self._recv_exact(2)
            n = b1 & 0x7F
            if n == 126:
                n = int.from_bytes(self._recv_exact(2), "big")
            elif n == 127:
                n = int.from_bytes(self._recv_exact(8), "big")
            payload = self._recv_exact(n)
            op = b0 & 0x0F
            if op in (0x1, 0x0):
                parts.append(payload)
                if b0 & 0x80:
                    return b"".join(parts).decode()
            elif op == 0x8:
                raise ConnectionError("server closed the WebSocket")

    def close(self):
        try:
            self._send_frame(0x8, b"")
            self.sock.close()
        except OSError:
            pass


def _mask(payload, mask):
    n = len(payload)
    if n == 0:
        return b""
    key = int.from_bytes((mask * (n // 4 + 1))[:n], "big")
    return (int.from_bytes(payload, "big") ^ key).to_bytes(n, "big")


class Session:
    """One client's request stream. Records (method, rid, start_us,
    end_us, latency_ms, ok) per request; `record=False` runs unrecorded
    (warm-up)."""

    def __init__(self, conn, name, log):
        self.conn, self.name, self.log = conn, name, log
        self.n = 0
        self.record = True
        self.sid = None

    def call(self, method, **params):
        self.n += 1
        rid = f"{self.name}-{self.n}"
        if self.sid is not None and method != "bq.createSession":
            params = {"sessionId": self.sid, **params}
        text = json.dumps({"jsonrpc": "2.0", "method": method, "params": params, "id": rid})
        t_us = time.time_ns() // 1000
        t0 = time.perf_counter_ns()
        raw = self.conn.call(text)
        dt_ms = (time.perf_counter_ns() - t0) / 1e6
        resp = json.loads(raw)
        ok = "error" not in resp and resp.get("id") == rid
        if self.record:
            self.log.append((method, rid, t_us, t_us + int(dt_ms * 1000), dt_ms, ok))
        if not ok:
            raise RpcError(f"{method}: {resp.get('error')}")
        return resp["result"]


def rows_of(result):
    names = [f["name"] for f in result["schema"]["fields"]]
    return [dict(zip(names, (c["v"] for c in r["f"]))) for r in result["rows"]]


def expect(cond, what):
    if not cond:
        raise Mismatch(what)


def close_enough(a, b):
    return abs(float(a) - float(b)) <= 1e-6 * max(1.0, abs(float(b)))


# ---------------------------------------------------------------- sessions

SESSION_ROWS = 2000
SESSION_BATCHES = 4


def session_script(s, rng):
    """One session's life: tables, small inserts, the SQL surface, a
    large SELECT *, catalog calls, a chain and a diamond DAG, destroy.
    Modelled on the reference client and DAG suites."""
    s.sid = s.call("bq.createSession")["sessionId"]
    s.call("bq.createTable", tableName="t", schema=[
        {"name": "id", "type": "INT64"}, {"name": "grp", "type": "STRING"},
        {"name": "amount", "type": "FLOAT64"}, {"name": "qty", "type": "INT64"}])
    s.call("bq.createTable", tableName="dim", schema=[
        {"name": "grp", "type": "STRING"}, {"name": "region", "type": "STRING"}])
    rows = [[i, rng.choice(GROUPS), round(rng.uniform(0, 100), 2), rng.randint(1, 100)]
            for i in range(SESSION_ROWS)]
    per = SESSION_ROWS // SESSION_BATCHES
    for b in range(SESSION_BATCHES):
        r = s.call("bq.insert", tableName="t", rows=rows[b * per:(b + 1) * per])
        expect(r["insertedRows"] == per, "insertedRows")
    dim = [[g, rng.choice(REGIONS)] for g in GROUPS]
    s.call("bq.insert", tableName="dim", rows=dim)

    by_grp = {}
    for _, g, a, q in rows:
        n, qs, am = by_grp.get(g, (0, 0, 0.0))
        by_grp[g] = (n + 1, qs + q, am + a)
    got = rows_of(s.call("bq.query", sql="SELECT grp, COUNT(*) AS n, SUM(qty) AS q, SUM(amount) AS a "
                                         "FROM t GROUP BY grp ORDER BY grp"))
    expect([(r["grp"], r["n"], r["q"]) for r in got] == [(g, v[0], v[1]) for g, v in sorted(by_grp.items())],
           "group by")
    expect(all(close_enough(r["a"], by_grp[r["grp"]][2]) for r in got), "group by amount")

    got = rows_of(s.call("bq.query", sql=(
        "SELECT grp, MAX(run) AS total, MAX(rn) AS n FROM ("
        "SELECT grp, SUM(qty) OVER (PARTITION BY grp ORDER BY id) AS run, "
        "ROW_NUMBER() OVER (PARTITION BY grp ORDER BY id) AS rn FROM t) w GROUP BY grp ORDER BY grp")))
    expect([(r["grp"], r["total"], r["n"]) for r in got] == [(g, v[1], v[0]) for g, v in sorted(by_grp.items())],
           "window")

    thr = rng.randint(20, 80)
    big = [q for _, _, _, q in rows if q > thr]
    got = rows_of(s.call("bq.query", sql=f"WITH big AS (SELECT qty FROM t WHERE qty > {thr}) "
                                         "SELECT COUNT(*) AS n, SUM(qty) AS s FROM big"))
    expect(got == [{"n": len(big), "s": sum(big)}], "cte")

    region = dict(dim)
    by_region = {}
    for _, g, _, q in rows:
        n, qs = by_region.get(region[g], (0, 0))
        by_region[region[g]] = (n + 1, qs + q)
    got = rows_of(s.call("bq.query", sql="SELECT d.region, COUNT(*) AS n, SUM(t.qty) AS q FROM t "
                                         "JOIN dim d ON t.grp = d.grp GROUP BY d.region ORDER BY d.region"))
    expect([(r["region"], r["n"], r["q"]) for r in got] == [(k, v[0], v[1]) for k, v in sorted(by_region.items())],
           "join")

    vals = [str(rng.randint(-50, 50)) if rng.random() < 0.75 else f"x{rng.randint(0, 9)}" for _ in range(12)]
    ints = [int(v) for v in vals if not v.startswith("x")]
    lit = ", ".join(f"'{v}'" for v in vals)
    got = rows_of(s.call("bq.query", sql=f"SELECT COUNT(*) AS n, COUNT(SAFE_CAST(x AS INT64)) AS ok, "
                                         f"SUM(SAFE_CAST(x AS INT64)) AS s FROM UNNEST([{lit}]) AS x"))
    expect(got == [{"n": len(vals), "ok": len(ints), "s": sum(ints) if ints else None}], "unnest/safe_cast")

    res = s.call("bq.query", sql="SELECT * FROM t")
    got = rows_of(res)
    expect(len(got) == SESSION_ROWS and int(res["totalRows"]) == SESSION_ROWS, "select * rows")
    expect(sum(r["qty"] for r in got) == sum(q for _, _, _, q in rows), "select * qty")

    listed = {t["name"]: t["rowCount"] for t in s.call("bq.listTables")}
    expect(listed.get("t") == SESSION_ROWS and listed.get("dim") == len(GROUPS), "listTables")
    d = s.call("bq.describeTable", tableName="t")
    expect(d["rowCount"] == SESSION_ROWS and [c["name"] for c in d["schema"]] == ["id", "grp", "amount", "qty"],
           "describeTable")

    raw = [rng.randint(1, 100) for _ in range(rng.randint(3, 8))]
    s.call("bq.registerDag", tables=[
        {"name": "raw", "schema": [{"name": "value", "type": "INT64"}], "rows": [[v] for v in raw]},
        {"name": "step1", "sql": "SELECT value * 2 AS value FROM raw"},
        {"name": "step2", "sql": "SELECT value + 1 AS value FROM step1"},
        {"name": "final", "sql": "SELECT SUM(value) AS total FROM step2"}])
    src = sorted(set(rng.randint(1, 30) for _ in range(rng.randint(4, 10))))
    s.call("bq.registerDag", tables=[
        {"name": "source", "schema": [{"name": "n", "type": "INT64"}], "rows": [[v] for v in src]},
        {"name": "double_it", "sql": "SELECT n * 2 AS doubled FROM source"},
        {"name": "triple_it", "sql": "SELECT n * 3 AS tripled FROM source"},
        {"name": "combined", "sql": "SELECT d.doubled, t.tripled FROM double_it d, triple_it t "
                                    "WHERE d.doubled = t.tripled - 1"}])
    r = s.call("bq.runDag", tableNames=["final", "combined"])
    expect(r["success"] and {"final", "combined"} <= set(r["succeededTables"]), "runDag")
    got = rows_of(s.call("bq.query", sql="SELECT * FROM final"))
    expect(got == [{"total": sum(2 * v + 1 for v in raw)}], "chain result")
    got = rows_of(s.call("bq.query", sql="SELECT * FROM combined ORDER BY doubled"))
    want = sorted((2 * a, 3 * b) for a in src for b in src if 2 * a == 3 * b - 1)
    expect([(r["doubled"], r["tripled"]) for r in got] == want, "diamond result")

    dag = s.call("bq.getDag")["tables"]
    expect(sorted(t["name"] for t in dag) == sorted(
        ["raw", "step1", "step2", "final", "source", "double_it", "triple_it", "combined"]), "getDag")
    expect(s.call("bq.destroySession")["success"] is True, "destroySession")
    s.sid = None


# ---------------------------------------------------------------- ingest

INGEST_BATCH = 100
INGEST_QUERY_EVERY = 10
INGEST_KEYS = [f"k{i:02d}" for i in range(16)]


def ingest_cycle(s, rng, inserts):
    """Grow one table from empty by `inserts` seeded 100-row batches,
    with a checked aggregate every 10 inserts and a describeTable at the
    end. Re-creating the table starts each cycle from empty."""
    s.call("bq.createTable", tableName="ingest", schema=[
        {"name": "id", "type": "INT64"}, {"name": "k", "type": "STRING"},
        {"name": "v", "type": "FLOAT64"}, {"name": "n", "type": "INT64"}])
    agg = {}
    total = 0
    for i in range(inserts):
        batch = [[total + j, rng.choice(INGEST_KEYS), round(rng.uniform(0, 1000), 3), rng.randint(0, 999)]
                 for j in range(INGEST_BATCH)]
        expect(s.call("bq.insert", tableName="ingest", rows=batch)["insertedRows"] == INGEST_BATCH, "insertedRows")
        total += INGEST_BATCH
        for _, k, _, n in batch:
            c, sm = agg.get(k, (0, 0))
            agg[k] = (c + 1, sm + n)
        if (i + 1) % INGEST_QUERY_EVERY == 0:
            got = rows_of(s.call("bq.query", sql="SELECT k, COUNT(*) AS c, SUM(n) AS s FROM ingest "
                                                 "GROUP BY k ORDER BY k"))
            expect([(r["k"], r["c"], r["s"]) for r in got] == [(k, v[0], v[1]) for k, v in sorted(agg.items())],
                   f"aggregate after {total} rows")
    expect(s.call("bq.describeTable", tableName="ingest")["rowCount"] == total, "describeTable rowCount")


def ingest_unit(inserts):
    """An ingest cycle in the client's one session, created on first use."""
    def unit(s, rng):
        if s.sid is None:
            s.sid = s.call("bq.createSession")["sessionId"]
        ingest_cycle(s, rng, inserts)
    return unit


# ---------------------------------------------------------------- load

def run_clients(connect, seed, units, seconds):
    """One closed-loop client thread per (name, unit) in `units`, each on
    its own connection, repeating its unit at least MIN_UNITS times and
    until `seconds` have passed (finishing the unit in progress). A unit
    that fails is recorded and its session destroyed. Returns (log,
    errors, each client's seconds from the common start to its last
    response)."""
    logs, errors, busy = [[] for _ in units], [], [0.0] * len(units)
    stop_at = [0.0]
    start = threading.Barrier(len(units) + 1, action=lambda: stop_at.__setitem__(0, time.monotonic() + seconds))

    def worker(c):
        name, unit = units[c]
        conn = connect()
        s = Session(conn, name, logs[c])
        try:
            start.wait()
            it = 0
            while it < MIN_UNITS or time.monotonic() < stop_at[0]:
                it += 1
                try:
                    unit(s, random.Random(f"{seed}/{name}/{it}"))
                except (RpcError, Mismatch) as e:
                    errors.append(f"{name} unit {it}: {e}")
                    if s.sid is not None:
                        s.call("bq.destroySession")
                        s.sid = None
            busy[c] = time.monotonic() - (stop_at[0] - seconds)
            if s.sid is not None:
                s.call("bq.destroySession")
                s.sid = None
        except Exception as e:  # noqa: BLE001 - any client failure fails the run
            errors.append(f"{name}: {type(e).__name__}: {e}")
            try:
                start.abort()
            except threading.BrokenBarrierError:
                pass
        finally:
            conn.close()

    threads = [threading.Thread(target=worker, args=(c,)) for c in range(len(units))]
    for t in threads:
        t.start()
    try:
        start.wait()
    except threading.BrokenBarrierError:
        pass
    for t in threads:
        t.join()
    return [e for log in logs for e in log], errors, busy
