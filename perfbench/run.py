#!/usr/bin/env python3
"""Benchmark for the graft engine: the served SQL path and the batch inventory.

    python3 perfbench/run.py --workload serve_point --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout compiles the
program and the harness with sbt (offline) and writes the fixture tables;
later runs reuse both from `.bench_build/`. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end metrics in BENCHMARK.json; with
`--trace 1` they are the per-layer metrics. See perfbench/README.md.
"""
import argparse
import atexit
import json
import os
import shutil
import signal
import sys

from procs import HERE, ROOT, WORK, BenchError, build, stop_all, tree_hash

# Per-layer metrics of layers a workload never enters; they read 0 there.
# The layer-share check splits a batch pass; a served request's layers run
# in two processes, so it has none.
_BATCH_ONLY = ("queries.", "lifecycle.", "tpch.", "pipelines.", "trace.layer_share")
_SERVE_ONLY = ("dialect.", "server.", "encode.")
NOT_ENTERED = {"serve_point": _BATCH_ONLY, "serve_stream": _BATCH_ONLY, "batch_cold": _SERVE_ONLY}


def prepare():
    """Build, fixture tables and an empty run directory: (classpath, data dir, run dir)."""
    import datagen
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    cp = build()
    data = os.path.join(WORK, "data", tree_hash([os.path.join(HERE, "datagen.py")])[:12])
    datagen.ensure(data)
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    return cp, data, run


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    kind = "per_layer" if a.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    import batch  # imported here, so that a missing module ends with a one-line reason
    import serve
    workloads = {"serve_point": serve.serve_point, "serve_stream": serve.serve_stream,
                 "batch_cold": batch.batch_cold}
    if a.workload not in workloads:
        raise BenchError(f"unknown workload {a.workload!r}; expected one of {sorted(workloads)}")
    cp, data, run = prepare()
    out = workloads[a.workload](cp, data, run, a.seed, a.seconds, bool(a.trace))
    if a.trace:
        for k in units:
            if k.startswith(NOT_ENTERED[a.workload]):
                out["metrics"].setdefault(k, 0.0)
        share = out["metrics"]["trace.layer_share"]
        if a.workload == "batch_cold" and not 0.9 <= share <= 1.0:
            out["problems"].append(f"layer spans cover {share:.3f} of the traced wall time, "
                                   "outside [0.9, 1.0]")
    missing = [k for k in units if k not in out["metrics"]]
    if missing:
        raise BenchError(f"workload {a.workload} produced no value for {missing}")
    if out["problems"]:
        print("perfbench: check failed: " + "; ".join(out["problems"][:10]), file=sys.stderr)
    print(json.dumps({
        "correct": not out["problems"], "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": float(out["metrics"][k]), "unit": u} for k, u in units.items()}}))


def _on_signal(signum, _frame):
    raise BenchError(f"interrupted by signal {signum}")


if __name__ == "__main__":
    atexit.register(stop_all)
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _on_signal)
    try:
        main()
    except BenchError as e:
        stop_all()
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
    except Exception as e:  # any other fault still ends with a one-line reason
        stop_all()
        print(f"perfbench: {type(e).__name__}: {e}".replace("\n", " ")[:800], file=sys.stderr)
        sys.exit(1)
    finally:
        stop_all()
