"""``server_mix``: Presto-protocol clients against the engine's HTTP server.

The server runs in its own process: ``python -m sensql_presto_spark.server``
for untraced runs, ``perfbench/launcher.py`` (the same server with spans
around its public functions) for traced runs.  One client thread per CPU,
each with its own connection and user, walks a fixed seeded request list
in a closed loop.  The list mixes

- short aggregates and point lookups over the catalog views,
- a wide result that pages over several 1,000-row pages,
- writes: INSERT, then DELETE of the same rows, on a small managed table
  the client owns, so the table's size stays level,
- reads under a user the server has not seen, which forks a session.

Every distinct read is checked once against ``Engine.sql`` on the same
text; every other response to it must carry the same fingerprint.  Every
DELETE must remove exactly the rows its INSERT added.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import subprocess
import sys
import threading
import time

from procs import stop_spark, stop_tree
from spans import inclusive, mean, median, result_hash, vm_hwm_mib

# Client poll interval while a query is QUEUED or RUNNING.  The server
# answers polls at once (no long poll), so this bounds the latency
# quantization of every request.
POLL_INTERVAL_S = 0.01
REQUESTS_PER_SECOND = 8.0  # nominal, all clients together; sizes the lists
BLOCK = 20  # requests in one block of a client's list
READS = ("read", "wide", "fresh")  # request kinds whose rows are checked and paged
WRITE_ROWS = 5

CALIBRATION_SQL = "SELECT sum(id % 7) AS s FROM range(0, 20000000, 1, 4)"

HERE = os.path.dirname(os.path.abspath(__file__))

_SHORT = (
    "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey = {k}",
    "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey = {k}",
    "SELECT n.n_name, count(*) AS customers, round(sum(c.c_acctbal), 2) AS balance "
    "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "WHERE c.c_acctbal > {k} GROUP BY n.n_name ORDER BY n.n_name",
    "SELECT event_type, count(*) AS n, round(avg(value), 4) AS mean_value FROM events "
    "WHERE user_id % 100 = {m} GROUP BY event_type ORDER BY event_type",
    "SELECT o_orderpriority, count(*) AS n FROM orders WHERE o_custkey % 50 = {m} "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
)
_WIDE = (
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer "
    "WHERE c_custkey % 4 = {m4} ORDER BY c_custkey LIMIT 3500"
)


class Client:
    """One protocol client with its own connection and user."""

    def __init__(self, port: int, user: str) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        self.user = user

    def _json(self, method: str, path: str, body: str | None = None, user: str | None = None):
        headers = {"X-Presto-User": user or self.user}
        self.conn.request(method, path, body=body, headers=headers)
        resp = self.conn.getresponse()
        return json.loads(resp.read())

    def query(self, sql: str, user: str | None = None) -> dict:
        """Submit, poll and page one statement; returns its timings and rows."""
        t0 = time.perf_counter()
        doc = self._json("POST", "/v1/statement", sql, user)
        out = {"submit_s": time.perf_counter() - t0, "polls": 0, "pages": 0, "page_s": []}
        out["query_id"] = doc.get("id")
        rows, columns, first_page = [], None, None
        while True:
            if "error" in doc:
                out["error"] = doc["error"].get("message", "error")
                break
            if "columns" in doc:
                columns = [c["name"] for c in doc["columns"]]
            if "data" in doc:
                out["pages"] += 1
                rows.extend(doc["data"])
                if first_page is None:
                    first_page = time.perf_counter() - t0
            nxt = doc.get("nextUri")
            if not nxt:
                break
            if "data" not in doc:
                out["polls"] += 1
                time.sleep(POLL_INTERVAL_S)
            t1 = time.perf_counter()
            doc = self._json("GET", _path(nxt))
            if "data" in doc:
                out["page_s"].append(time.perf_counter() - t1)
        out["latency_s"] = time.perf_counter() - t0
        out["first_page_s"] = first_page
        out["columns"], out["rows"] = columns, rows
        return out

    def close(self) -> None:
        self.conn.close()


def _path(uri: str) -> str:
    """``http://host:port/v1/...`` → ``/v1/...``."""
    return "/" + uri.split("://", 1)[-1].split("/", 1)[1]


def read_pool() -> tuple[list[str], str]:
    """The distinct reads: five short statements and one wide one.

    The pool is the same on every run, so the answers checked against
    ``Engine.sql`` are computed once per checkout; the seed picks the order.
    """
    rng = random.Random(0)
    reads = [t.format(k=rng.randrange(15000), m=rng.randrange(50)) for t in _SHORT]
    return reads, _WIDE.format(m4=rng.randrange(4))


def request_list(rng: random.Random, client: int, blocks: int, seed: int) -> list[dict]:
    """A client's list: ``blocks`` seeded shuffles of one block of 20 requests.

    A block holds 10 short reads, 3 wide reads, 3 INSERT/DELETE pairs (each
    DELETE later in the block than its INSERT) and 1 read under a new user,
    so every run has the same mix.
    """
    reads, wide = read_pool()
    out: list[dict] = []
    for b in range(blocks):
        block = [{"kind": "read", "sql": rng.choice(reads)} for _ in range(10)]
        block += [{"kind": "wide", "sql": wide} for _ in range(3)]
        block.append({"kind": "fresh", "sql": rng.choice(reads), "user": f"fresh-{seed}-{client}-{b}"})
        block += [{"kind": "write"} for _ in range(3)]
        rng.shuffle(block)
        writes = 0
        for req in block:
            if req["kind"] != "write":
                out.append(req)
                continue
            base = 1000 + (b * 3 + writes) * WRITE_ROWS
            writes += 1
            values = ", ".join(f"({base + j}, 'w{j}')" for j in range(WRITE_ROWS))
            out.append({"kind": "insert", "sql": f"INSERT INTO bench_w{client} VALUES {values}"})
            out.append({"kind": "delete", "sql": f"DELETE FROM bench_w{client} WHERE k >= {base}"})
    return out


def _distinct(reqs: list[dict]) -> list[dict]:
    out, seen = [], set()
    for r in reqs:
        key = r["sql"] if r["kind"] in ("read", "wide") else r["kind"]
        if key not in seen:
            seen.add(key)
            out.append({**r, "user": f"warm-{r['user']}"} if r["kind"] == "fresh" else r)
    return out


def _start_server(ctx) -> tuple[subprocess.Popen, int, str]:
    server_dir = os.path.join(ctx.work_dir, "server")
    os.makedirs(server_dir, exist_ok=True)
    spans_path = os.path.join(ctx.work_dir, "server-spans.json")
    if ctx.tracer.enabled:
        cmd = [sys.executable, os.path.join(HERE, "launcher.py"), "--sf-dir", ctx.data_dir, "--spans", spans_path]
    else:
        cmd = [sys.executable, "-m", "sensql_presto_spark.server", "--port", "0", "--sf-dir", ctx.data_dir]
    with open(os.path.join(ctx.work_dir, "server.log"), "w") as log:
        proc = subprocess.Popen(
            cmd,
            cwd=server_dir,
            stdout=subprocess.PIPE,
            stderr=log,
            text=True,
            env={**os.environ, "PYTHONUNBUFFERED": "1"},
        )
    line = proc.stdout.readline()
    if "listening on" not in line:
        proc.kill()
        proc.wait()
        raise RuntimeError(f"server did not start: {line!r}")
    port = int(line.split("127.0.0.1:", 1)[1].split("/", 1)[0])
    return proc, port, spans_path


def _run_clients(port: int, lists: list[list[dict]], users: list[str]) -> list[list[dict]]:
    results: list[list[dict]] = [[] for _ in lists]

    def work(c: int) -> None:
        client = Client(port, users[c])
        try:
            for req in lists[c]:
                try:
                    res = client.query(req["sql"], req.get("user"))
                except (OSError, http.client.HTTPException, ValueError) as exc:
                    res = {"error": f"{type(exc).__name__}: {exc}"}
                results[c].append({**req, **res})
        finally:
            client.close()

    threads = [threading.Thread(target=work, args=(c,)) for c in range(len(lists))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def run(ctx) -> dict:
    n_clients = int(os.environ["SPARK_GRAFT_CPUS"])
    rng = random.Random(ctx.seed)
    blocks = max(1, round(ctx.seconds * REQUESTS_PER_SECOND / n_clients / BLOCK))
    timed = [request_list(rng, c, blocks, ctx.seed) for c in range(n_clients)]
    users = [f"client{c}" for c in range(n_clients)]

    proc, port, spans_path = _start_server(ctx)
    try:
        # set-up: each client creates the small table it writes to
        setup = [[{"kind": "setup", "sql": f"CREATE TABLE bench_w{c} AS SELECT n_nationkey AS k, "
                   "n_name AS v FROM nation"}] for c in range(n_clients)]
        for res in _run_clients(port, setup, users):
            if "error" in res[0]:
                raise RuntimeError(f"setup failed: {res[0]['error']}")
        # warm-up: each distinct statement of a client once, one INSERT/DELETE
        # pair and one fork under another new user
        t_warm = time.perf_counter()
        warm = [_distinct(reqs) for reqs in timed]
        warm_results = _run_clients(port, warm, users)
        warmup_s = time.perf_counter() - t_warm

        t_calib = time.perf_counter()
        calib_before = _calibrate(port)
        t_first = time.perf_counter()
        setup_s = time.time() - ctx.process_start - (t_first - t_calib)
        results = _run_clients(port, timed, users)
        wall_s = time.perf_counter() - t_first
        rss_mib = vm_hwm_mib(proc.pid)
        calib_after = _calibrate(port)
        final = _run_clients(port, [[{"kind": "count", "sql": f"SELECT count(*) AS n FROM bench_w{c}"}]
                                    for c in range(n_clients)], users)
    finally:
        stop_tree(proc)
        proc.stdout.close()

    flat = [r for rs in results for r in rs]
    with open(os.path.join(ctx.work_dir, "requests-server_mix.json"), "w") as f:
        json.dump({"warmup": warm_results, "timed": results}, f)
    failed = sum(1 for r in flat if "error" in r)
    for r in flat:
        if "error" in r:
            ctx.log(f"{r['kind']} request failed: {r['error']}")
    ok = _check(ctx, warm_results + results, final)
    ok_flat = [r for r in flat if "error" not in r]
    out = {
        "attempted": len(flat),
        "failed": failed,
        "correct": ok and failed == 0,
        "latencies": [r["latency_s"] for r in ok_flat],
        "first_page": [r["first_page_s"] for r in ok_flat if r["kind"] in READS],
        "wall_s": wall_s,
        "rss_mib": rss_mib,
        "setup_s": setup_s,
        "warmup_s": warmup_s,
        "calib_s": [calib_before, calib_after],
        "layers": {},
    }
    if ctx.tracer.enabled:
        with open(spans_path) as f:
            server_trace = json.load(f)
        ctx.tracer.spans.extend(server_trace["spans"])
        out["trace_overhead_s"] = server_trace["overhead_s"]
        out["layers"] = layer_metrics(server_trace, ok_flat, flat)
    return out


def _calibrate(port: int) -> float:
    """The host probe, sent through the server: the faster of two runs."""
    client = Client(port, "calibration")
    try:
        return min(client.query(CALIBRATION_SQL)["latency_s"] for _ in range(2))
    finally:
        client.close()


def _check(ctx, client_results: list[list[dict]], final: list[list[dict]]) -> bool:
    import pandas as pd

    from sensql_presto_spark.engine import Engine
    from sensql_presto_spark.testing import assert_frames_match

    ok = True
    checked: dict[str, str] = {}
    first: dict[str, dict] = {}
    for rs in client_results:
        for r in rs:
            if "error" in r or r["kind"] not in READS:
                continue
            digest = result_hash(r["rows"])
            if r["sql"] not in checked:
                checked[r["sql"]] = digest
                first[r["sql"]] = r
            elif checked[r["sql"]] != digest:
                ctx.log(f"response differs from its checked result: {r['sql']}")
                ok = False
    for rs in client_results:
        for r in rs:
            if r["kind"] == "delete" and "error" not in r:
                deleted = r["rows"][0][0] if r["rows"] else None
                if deleted != WRITE_ROWS:
                    ctx.log(f"DELETE removed {deleted} rows, want {WRITE_ROWS}: {r['sql']}")
                    ok = False
    for rs in final:
        if "error" in rs[0] or rs[0]["rows"] != [[25]]:
            ctx.log(f"write table size drifted: {rs[0].get('rows')} {rs[0].get('error', '')}")
            ok = False
    engine = None

    def via_engine(sql: str):
        nonlocal engine
        if engine is None:
            engine = Engine(sf_dir=ctx.data_dir)
        return engine.sql(sql).toPandas()

    try:
        for sql, r in first.items():
            try:
                expected = ctx.answer(f"engine|{sql}", lambda: via_engine(sql))
                assert_frames_match(pd.DataFrame(r["rows"], columns=r["columns"]), expected)
            except AssertionError as exc:
                ctx.log(f"server result differs from Engine.sql: {sql}: {exc}")
                ok = False
    finally:
        if engine is not None:
            stop_spark(engine.spark)
    ctx.log(f"checked {len(first)} distinct reads against Engine.sql")
    return ok


def layer_metrics(server_trace: dict, ok_results: list[dict], all_results: list[dict]) -> dict:
    """Client-side protocol figures plus the server's own spans."""
    timed_ids = {r["query_id"] for r in all_results if r.get("query_id")}
    spans = [s for s in server_trace["spans"] if s.get("request") in timed_ids]
    runs = [s for s in spans if s["name"] == "server.run"]
    sessions = [s for s in spans if s["name"] == "server.session"]
    forks = [s for s in sessions if s.get("fork")]
    executes = [s for s in spans if s["name"] == "statements.execute"]
    catalog = [s for s in spans if s["name"] in ("catalog.table", "catalog.register_views")]
    by_req: dict = {}
    for s in spans:
        by_req.setdefault(s["request"], []).append(s)
    exec_jobs = {k: [] for k in ("jobs", "stages", "tasks")}
    exec_s = []
    for run in runs:
        rs = by_req[run["request"]]
        nested = [s for s in rs if s["parent"] == run["id"]]
        exec_s.append(run["end"] - run["start"] - sum(s["end"] - s["start"] for s in nested))
        for k in exec_jobs:
            exec_jobs[k].append(
                inclusive(run, rs, k) - sum(inclusive(s, rs, k) for s in nested if s["name"] == "server.session")
            )
    n = max(1, len(runs))
    return {
        "catalog.table_calls": sum(1 for s in catalog if s["name"] == "catalog.table") / n,
        "catalog.table_s": sum(s["end"] - s["start"] for s in catalog if s["name"] == "catalog.register_views") / n,
        "catalog.jobs": sum(s.get("jobs", 0) for s in catalog) / n,
        "statements.execute_read_s": median(
            s["end"] - s["start"] for s in executes if s.get("kind") == "read"
        ),
        "statements.execute_write_s": median(
            s["end"] - s["start"] for s in executes if s.get("kind") == "write"
        ),
        "server.fork_s": median(s["end"] - s["start"] for s in forks),
        "server.forks": len(forks),
        "server.submit_s": median(r["submit_s"] for r in ok_results),
        "server.polls": mean(r["polls"] for r in ok_results),
        "server.pages": mean(r["pages"] for r in ok_results),
        "server.page_s": median(t for r in ok_results for t in r["page_s"]),
        "server.retained_queries": server_trace["retained_queries"],
        "server.failed": server_trace["failed_queries"],
        "exec.run_s": median(exec_s),
        "exec.jobs": mean(exec_jobs["jobs"]),
        "exec.stages": mean(exec_jobs["stages"]),
        "exec.tasks": mean(exec_jobs["tasks"]),
    }
