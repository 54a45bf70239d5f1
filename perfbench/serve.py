"""The served workloads: `graft.server.ServerMain` driven over HTTP.

A closed loop of CLIENTS threads, each with its own keep-alive connection,
sends the next request only when its previous one has completed. Requests
come from seeded rounds; a run attempts whole rounds only, so the set of
operations in a run depends on the seed and on how many rounds fit, never on
where the clock stopped.
"""
import http.client
import io
import json
import os
import random
import socket
import statistics
import sys
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv
import pyarrow.ipc
import pyarrow.json

import compare
import procs
from procs import BenchError

CONTENT_TYPES = {"csv": "text/csv", "jsonl": "application/jsonlines",
                 "json": "application/json", "arrow": "application/vnd.apache.arrow.stream"}
FORMATS = ["csv", "jsonl", "json", "arrow"]
POOL = 4                # the server's admission pool (QueryServer's default)
CLIENTS = 2             # timed clients: fewer than POOL, so nothing queues at admission
HEALTH_TIMEOUT_S = 120.0


def point_round(seed, r):
    """Twelve small-result requests: each DuckDB-dialect template twice."""
    rng = random.Random(f"point:{seed}:{r}")

    def group_by_all():
        d = f"{rng.randrange(1995, 2001)}-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}"
        return ("SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty "
                f"FROM lineitem WHERE l_shipdate < TIMESTAMP '{d}' GROUP BY ALL")

    def exclude():
        # Returns o_orderdate, a TIMESTAMP_NTZ column, whose JSON the server
        # writes unquoted (FOUND in CHANGES.md): every such response fails.
        # Its key is fixed, so the failed share is the same for every seed.
        return "SELECT * EXCLUDE (o_orderpriority) FROM orders WHERE o_orderkey = 4242"

    def qualify():
        c = rng.randrange(14990)
        return ("SELECT o_custkey, o_orderkey, o_totalprice FROM orders "
                f"WHERE o_custkey BETWEEN {c} AND {c + 9} QUALIFY row_number() OVER "
                "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1")

    def from_first():
        return ("FROM customer SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
                f"WHERE c_custkey = {rng.randrange(15000)}")

    def events_point():
        return ("SELECT event_type, count(*) AS n, min(value) AS lo, max(value) AS hi "
                f"FROM events WHERE user_id = {rng.randrange(1500)} GROUP BY ALL")

    def lineitem_point():
        return ("SELECT l_linenumber, l_partkey, l_quantity, l_extendedprice "
                f"FROM lineitem WHERE l_orderkey = {rng.randrange(150000)}")

    reqs = [("json", t()) for t in (group_by_all, exclude, qualify, from_first,
                                    events_point, lineitem_point) for _ in range(2)]
    rng.shuffle(reqs)
    return reqs


def stream_round(seed, r):
    """Eight large-result requests: every residue k of l_orderkey % 8 once,
    in format FORMATS[k % 4], in seeded order."""
    rng = random.Random(f"stream:{seed}:{r}")
    ks = list(range(8))
    rng.shuffle(ks)
    return [(FORMATS[k % 4], f"SELECT * FROM lineitem WHERE l_orderkey % 8 = {k}") for k in ks]


def _free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def launch(cp, data, run, props=()):
    """Start ServerMain on a free port; return (process, port, seconds to healthy)."""
    port = _free_port()
    log = os.path.join(run, "server.log")
    t0 = time.monotonic()
    p = procs.start(procs.java(cp, "graft.server.ServerMain", [port, data], os.path.join(run, "tmp"),
                               props), log, env=procs.jvm_env())
    while True:
        if p.poll() is not None:
            raise BenchError(f"server exited with {p.returncode} before it was healthy; "
                             f"log: {procs.log_tail(log)}")
        try:
            c = http.client.HTTPConnection("127.0.0.1", port, timeout=5)
            c.request("GET", "/health")
            ok = c.getresponse().status == 200
            c.close()
            if ok:
                return p, port, time.monotonic() - t0
        except OSError:
            pass
        if time.monotonic() - t0 > HEALTH_TIMEOUT_S:
            raise BenchError(f"server not healthy after {HEALTH_TIMEOUT_S:.0f}s; log: {procs.log_tail(log)}")
        time.sleep(0.02)


def closed_loop(port, request_at, round_size, seconds, on_body, clients=CLIENTS):
    """Send requests request_at(0), request_at(1), ... from `clients` threads
    until `seconds` have passed and a round is complete.

    At least one round is sent. Returns the records (index, status, time to
    first body byte, total time, error) in index order; on_body(index, body)
    runs for every 200 response inside the client thread.
    """
    lock = threading.Lock()
    state = {"next": 0}
    records = []
    deadline = time.monotonic() + seconds

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        try:
            while True:
                with lock:
                    i = state["next"]
                    if i > 0 and i % round_size == 0 and time.monotonic() >= deadline:
                        return
                    state["next"] = i + 1
                fmt, sql = request_at(i)
                t0 = time.monotonic()
                try:
                    conn.request("POST", "/", body=sql.encode(),
                                 headers={"Accept": CONTENT_TYPES[fmt], "Content-Type": "text/plain"})
                    resp = conn.getresponse()
                    first = resp.read(1)
                    t1 = time.monotonic()
                    body = first + resp.read()
                    t2 = time.monotonic()
                    if resp.status == 200:
                        on_body(i, body)
                        rec = (i, 200, t1 - t0, t2 - t0, None)
                    else:
                        rec = (i, resp.status, t1 - t0, t2 - t0, body[:300].decode(errors="replace"))
                except (OSError, http.client.HTTPException) as e:
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
                    rec = (i, 0, 0.0, time.monotonic() - t0, f"{type(e).__name__}: {e}")
                with lock:
                    records.append(rec)
        finally:
            conn.close()

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(records)


# ---------------------------------------------------------------- checks

def _rows_in(fmt, body):
    """Row count of a response body, without parsing values."""
    if fmt == "csv":
        return body.count(b"\n") - 1
    if fmt == "jsonl":
        return body.count(b"\n")
    if fmt == "json":
        return 0 if body.strip() == b"[]" else body.count(b"},{") + 1
    return pyarrow.ipc.open_stream(body).read_all().num_rows


def _first_record_parses(fmt, body):
    """Whether the first record of a JSON Lines or JSON body is valid JSON."""
    if fmt == "jsonl" and body:
        first = body[:body.find(b"\n")]
    elif fmt == "json" and body.strip() != b"[]":
        end = body.find(b"},{")
        first = body[1:end + 1] if end >= 0 else body[1:-1]
    else:
        return True
    try:
        json.loads(first)
        return True
    except ValueError:
        return False


LINEITEM_INTS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
LINEITEM_CENTS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _checksum_body(fmt, body):
    """Per-column sums of the numeric columns (doubles in whole cents)."""
    if fmt == "csv":
        t = pyarrow.csv.read_csv(io.BytesIO(body))
    elif fmt == "jsonl":
        t = pyarrow.json.read_json(io.BytesIO(body))
    elif fmt == "json":
        t = pa.Table.from_pylist(json.loads(body))
    else:
        t = pyarrow.ipc.open_stream(body).read_all()
    out = {c: int(pc.sum(t[c].cast(pa.int64())).as_py() or 0) for c in LINEITEM_INTS}
    for c in LINEITEM_CENTS:
        cents = pc.round(pc.multiply(t[c].cast(pa.float64()), 100.0))
        out[c] = int(pc.sum(cents.cast(pa.int64())).as_py() or 0)
    out["rows"] = t.num_rows
    return out


def _duck_residues(con):
    cols = ", ".join([f"sum({c}) AS {c}" for c in LINEITEM_INTS] +
                     [f"sum(CAST(round({c} * 100) AS BIGINT)) AS {c}" for c in LINEITEM_CENTS])
    res = con.execute(f"SELECT l_orderkey % 8 AS k, count(*) AS rows, {cols} "
                      "FROM lineitem GROUP BY k ORDER BY k")
    names = [d[0] for d in res.description]
    by_k = {r[0]: {n: int(v) for n, v in zip(names[1:], r[1:])} for r in res.fetchall()}
    total = con.execute("SELECT count(*) FROM lineitem").fetchone()[0]
    return by_k, total


def _residue(sql):
    return int(sql.rsplit("=", 1)[1])


# A fresh server is slow until the JIT has seen enough requests; warm-up runs
# POOL clients, untimed, to push more of them through (README, "Method").

class _Point:
    """Small results: every response must equal DuckDB's rows as a multiset."""
    make_round, round_size, warmup_s = staticmethod(point_round), 12, 10.0

    def __init__(self):
        self.bodies = {}

    def on_body(self, i, fmt, sql, body):
        self.bodies[i] = body

    def check(self, con, reqs):
        """Problems, and the requests whose body is not valid JSON: those
        fail, and only their row count is checked."""
        problems, invalid, cache = [], set(), {}
        for i, sql in reqs:
            if sql not in cache:
                res = con.execute(sql)
                cache[sql] = ([d[0] for d in res.description], res.fetchall())
            cols, rows = cache[sql]
            try:
                got = json.loads(self.bodies[i])
            except ValueError:
                invalid.add(i)
                n = _rows_in("json", self.bodies[i])
                if n != len(rows):
                    problems.append(f"request {i} ({sql[:60]}...): {n} rows, DuckDB has {len(rows)}")
                continue
            got_cols = list(got[0].keys()) if got else cols
            why = compare.diff(got_cols, [list(r.values()) for r in got], cols, rows)
            if why:
                problems.append(f"request {i} ({sql[:60]}...): {why}")
        return problems, invalid


class _Stream:
    """Large results: row counts per residue, their sum per round, and one
    numeric checksum per format, all against DuckDB. A JSON or JSON Lines
    body whose first record does not parse is a failed request; its rows
    are still counted."""
    make_round, round_size, warmup_s = staticmethod(stream_round), 8, 20.0

    def __init__(self):
        self.counts, self.kept, self.invalid = {}, {}, set()
        self.lock = threading.Lock()

    def on_body(self, i, fmt, sql, body):
        self.counts[i] = _rows_in(fmt, body)
        with self.lock:
            if not _first_record_parses(fmt, body):
                self.invalid.add(i)
            else:
                self.kept.setdefault(fmt, (i, sql, body))

    def check(self, con, reqs):
        by_k, total = _duck_residues(con)
        problems = []
        for i, sql in reqs:
            want = by_k[_residue(sql)]["rows"]
            if self.counts[i] != want:
                problems.append(f"request {i} ({sql}): {self.counts[i]} rows, DuckDB has {want}")
        done = {i for i, _ in reqs}
        for start in range(0, max(done, default=-1) + 1, self.round_size):
            idx = range(start, start + self.round_size)
            if all(i in done for i in idx):
                n = sum(self.counts[i] for i in idx)
                if n != total:
                    problems.append(f"round at {start}: residues sum to {n} rows, lineitem has {total}")
        for fmt, (i, sql, body) in self.kept.items():
            got, want = _checksum_body(fmt, body), by_k[_residue(sql)]
            if got != want:
                problems.append(f"{fmt} checksum of request {i} ({sql}): {got} vs DuckDB {want}")
        return problems, self.invalid


def _in_process(cp, data, run, requests, con):
    """The calls before the first row and the encoders, timed in-process
    over one round (graftbench.ServeTrace), after 3 untimed rounds."""
    req_file = os.path.join(run, "requests.tsv")
    with open(req_file, "w") as f:
        f.writelines(f"{fmt}\t{sql}\n" for fmt, sql in requests)
    procs.run_to_end(procs.java(cp, "graftbench.ServeTrace", [data, run, req_file, 3, procs.CPUS],
                                os.path.join(run, "tmp")),
                     os.path.join(run, "trace.log"), 120, "served-path trace", procs.jvm_env())
    with open(os.path.join(run, "serve_trace.json")) as f:
        d = json.load(f)
    problems = [f"{d['failed']} requests failed in the in-process trace"] if d["failed"] else []
    for (_, sql), n in zip(requests, d["rows"]):
        want = con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        if n is not None and n != want:
            problems.append(f"traced {sql[:60]}...: {n} rows, DuckDB has {want}")
    return d["trace"], problems


def _server_layers(tally_file, round_t0, round_t1, records):
    """Figures of the traced round from the server's own listener
    (graftbench.ServerTally): every job that started while the round ran.
    Nothing else runs on the server then, and requests go one at a time."""
    try:
        with open(tally_file) as f:
            jobs = json.load(f)["jobs"]
    except (OSError, ValueError, KeyError) as e:
        raise BenchError(f"the server wrote no job counts ({e})")
    js = [j for j in jobs if round_t0 * 1000 - 1 <= j["start_ms"] <= round_t1 * 1000 + 1]
    n = len(records)

    def total(k):
        return sum(j[k] for j in js)
    exec_s, run_s = total("job_ms") / 1e3, total("task_run_ms") / 1e3
    return {"ops": n, "trace.pass_s": round_t1 - round_t0,
            "server.first_row_ms": statistics.mean(r[2] for r in records) * 1000,
            "server.jobs_per_req": len(js) / n, "server.tasks_per_req": total("tasks") / n,
            "exec.s": exec_s, "exec.jobs": len(js), "exec.stages": total("stages"),
            "exec.tasks": total("tasks"), "exec.task_run_s": run_s,
            "exec.gc_s": total("gc_ms") / 1e3,
            "exec.shuffle_write_mb": total("shuffle_write_bytes") / 1048576.0,
            "exec.spill_mb": total("spill_bytes") / 1048576.0,
            "exec.busy_cores": run_s / exec_s if exec_s > 0 else 0.0}


def _serve(kind, cp, data, run, seed, seconds, trace):
    def request_at(prefix):
        cache = {}

        def at(i):
            r = i // kind.round_size
            if r not in cache:
                cache[r] = kind.make_round(f"{prefix}{seed}", r)
            return cache[r][i % kind.round_size]
        return at

    timed_at = request_at("")
    work, traced_work = kind(), kind()
    tally_file = os.path.join(run, "server_tally.json")
    props = ("spark.extraListeners=graftbench.ServerTally",
             f"spark.graftbench.tallyOut={tally_file}") if trace else ()

    server, port, setup_s = launch(cp, data, run, props)
    try:
        warm = closed_loop(port, request_at("warmup:"), kind.round_size, kind.warmup_s,
                              lambda i, b: None, clients=POOL)
        if not any(r[1] == 200 for r in warm):
            raise BenchError(f"no warm-up request succeeded: {warm[0][4] if warm else 'none sent'}")
        records = closed_loop(port, timed_at, kind.round_size, seconds,
                              lambda i, b: work.on_body(i, *timed_at(i), b))
        if trace:   # then the seed's first round again, one request at a time
            round_t0 = time.time()
            traced = closed_loop(port, timed_at, kind.round_size, 0,
                                 lambda i, b: traced_work.on_body(i, *timed_at(i), b), clients=1)
            round_t1 = time.time()
        rss = procs.peak_rss_mb(server.pid)
    finally:
        procs.stop(server)

    with open(os.path.join(run, "requests.json"), "w") as f:
        json.dump([{"i": r[0], "format": timed_at(r[0])[0], "sql": timed_at(r[0])[1], "status": r[1],
                    "ttfb_s": r[2], "total_s": r[3]} for r in records], f, indent=0)
    con = compare.connect(data)
    problems, failed = [], 0
    for w, recs in [(work, records)] + ([(traced_work, traced)] if trace else []):
        answered = [r for r in recs if r[1] == 200]
        if not answered:
            raise BenchError(f"no request succeeded in the timed loop: {recs[0][4] if recs else ''}")
        for r in [r for r in recs if r[1] != 200][:3]:
            print(f"perfbench: request {r[0]} failed ({r[1]}): {r[4]}", file=sys.stderr)
        found, invalid = w.check(con, [(r[0], timed_at(r[0])[1]) for r in answered])
        problems += found
        failed += len(recs) - len(answered) + len(invalid)
    attempted = len(records) + (len(traced) if trace else 0)
    # Responses with an invalid body were still sent in full by the server,
    # so their times stay in the timing metrics.
    latency_ms = statistics.median(r[2] for r in records if r[1] == 200) * 1000
    if trace:
        layers, found = _in_process(cp, data, run, [timed_at(i) for i in range(kind.round_size)], con)
        metrics = dict(layers, **_server_layers(tally_file, round_t0, round_t1, traced))
        metrics["trace.latency_ms"] = latency_ms
        return {"metrics": metrics, "attempted": attempted, "failed": failed,
                "problems": problems + found}
    # Throughput is the closed loop's CLIENTS / mean request time (Little's
    # law): the idle tail of the last round, one client waiting for the
    # other, does not count.
    return {"metrics": {"setup_s": setup_s, "latency_ms": latency_ms,
                        "ops_per_s": CLIENTS / statistics.mean(r[3] for r in records if r[1] == 200),
                        "peak_rss_mb": rss},
            "attempted": attempted, "failed": failed, "problems": problems}


def serve_point(cp, data, run, seed, seconds, trace):
    return _serve(_Point, cp, data, run, seed, seconds, trace)


def serve_stream(cp, data, run, seed, seconds, trace):
    return _serve(_Stream, cp, data, run, seed, seconds, trace)
