"""The batch workload: `SparkEntry.queries` in-process (graftbench.Batch).

Two fixed, sorted query sets run in whole passes in one JVM; the first pass
is untimed warm-up. The sets are trimmed from a 35-query list so that set-up,
warm-up and a timed pass fit the run time (README, "Query lists").
"""
import hashlib
import json
import math
import os
import statistics
import time

import compare
import procs
from procs import WORK, BenchError

SETS = {
    # almost all time in exec: scans, joins and aggregates planned by Catalyst
    "tpch": ["q1_pricing_summary", "tpch_q03", "tpch_q06", "tpch_q14", "tpch_q19"],
    # DataFrame programs: ConnectedComponents building with eager jobs over
    # retained state (n_dedup_keep_best) and a one-shuffle exact dedup
    "pipelines": ["n_dedup_exact_hash", "n_dedup_keep_best"],
}


def _oracle(con, data, name, sql):
    """DuckDB's answer to `sql`, cached per fixture version and SQL text."""
    d = os.path.join(WORK, "oracle", os.path.basename(data))
    path = os.path.join(d, f"{name}.json")
    sha = hashlib.sha256(sql.encode()).hexdigest()
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
        if cached["sql_sha256"] == sha:
            return cached["columns"], cached["rows"]
    res = con.execute(sql)
    cols = [c[0] for c in res.description]
    rows = [compare.canon(list(r)) for r in res.fetchall()]
    os.makedirs(d, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump({"sql_sha256": sha, "columns": cols, "rows": rows}, f)
    os.replace(path + ".tmp", path)
    return cols, rows


def _check(data, run, d):
    problems = [f"{q}: a timed pass gave another result than warm-up" for q in d["mismatched"]]
    with open(os.path.join(run, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    con = compare.connect(data)
    for q in [q for qs in SETS.values() for q in qs]:
        path = os.path.join(run, "results", f"{q}.jsonl")
        if q not in oracle_sql:
            problems.append(f"{q}: no SparkEntry.oracleSql to check it against")
            continue
        if not os.path.exists(path):
            continue        # failed in warm-up too; counted in `failed`
        with open(path) as f:
            cols = json.loads(f.readline())
            rows = [json.loads(l) for l in f]
        why = compare.diff(cols, rows, *_oracle(con, data, q, oracle_sql[q]))
        if why:
            problems.append(f"{q}: {why}")
    return problems


def batch_cold(cp, data, run, seed, seconds, trace):
    """`seed` selects nothing here: the query list and the tables are fixed."""
    list_file = os.path.join(run, "queries.txt")
    with open(list_file, "w") as f:
        f.writelines(f"{s} {q}\n" for s, qs in SETS.items() for q in qs)
    launch_ms = int(time.time() * 1000)
    procs.run_to_end(procs.java(cp, "graftbench.Batch",
                                [data, run, list_file, seconds, int(trace), launch_ms, procs.CPUS],
                                os.path.join(run, "tmp")),
                     os.path.join(run, "batch.log"), 170, "batch harness", procs.jvm_env())
    with open(os.path.join(run, "batch.json")) as f:
        d = json.load(f)
    out = {"attempted": d["attempted"], "failed": d["failed"], "problems": _check(data, run, d)}
    if not d["query_ms"]:
        raise BenchError("no query succeeded in the timed passes")
    # latency: geometric mean of the per-query times (as TPC-H's power
    # metric), so no single query decides it the way a median of a few does
    latency_ms = math.exp(statistics.mean(math.log(t) for t in d["query_ms"]))
    if trace:
        out["metrics"] = dict(d["trace"], **{"trace.latency_ms": latency_ms})
        return out
    out["metrics"] = {"setup_s": d["setup_s"], "latency_ms": latency_ms,
                      "ops_per_s": len(d["query_ms"]) / sum(d["pass_s"]),
                      "peak_rss_mb": d["peak_rss_mb"]}
    return out
