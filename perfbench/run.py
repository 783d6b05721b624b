"""Benchmark entry point.

    python3 perfbench/run.py --workload {query,ingest} --seed N \
        --seconds S --trace {0,1}

Generates the input tables, runs one workload against the engine in
this checkout and prints one JSON object as the last line of standard
output: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, from spans and the Spark event log. See
README.md in this directory.

Everything the run writes stays under this directory: per-run data in
``work/`` (deleted at exit), run records and trace files in
``results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import sys
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query", "ingest")
# the dataset is fixed; the seed orders the operations and places the
# ingest batch boundaries
DATA_SCALE = 0.001
DATA_SEED = 42
# the driver heap limit (the engine's default is 8g): the JVM starts
# small and grows its heap towards it as the work needs. Under 8g that
# growth alone spread the peak resident memory of five query runs by
# 0.15 of their median
DRIVER_MEM = "1g"


def cpu_canary() -> float:
    """Best of three timings of a fixed pure-Python loop: a host-speed
    reading for the run record, not a gate."""
    best = math.inf
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t0)
    return best


def configure_env(cpus: int, work: str) -> None:
    """Environment the engine, its JVM and its Python workers inherit.
    Set before the JVM starts."""
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # a fixed heap limit, whatever the caller's environment says
    os.environ["NERD_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


@contextmanager
def stdout_to_stderr():
    """Route fd 1 to stderr while the engine runs (the JVM inherits
    it), so the result line is the only thing on standard output."""
    sys.stdout.flush()
    saved = os.dup(1)
    os.dup2(2, 1)
    try:
        yield
    finally:
        sys.stdout.flush()
        os.dup2(saved, 1)
        os.close(saved)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    state = os.path.join(HERE, "results")
    # no path component starting with "." or "_": the engine treats
    # files under such a directory as hidden in places (see README.md)
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(state, exist_ok=True)
    os.makedirs(work)
    configure_env(cpus, work)
    run = None
    try:
        with stdout_to_stderr():
            import nerd_spark  # noqa: F401  fail fast outside a full checkout

            import datagen
            import workloads as W

            meta = {
                "workload": args.workload,
                "seed": args.seed,
                "seconds": args.seconds,
                "trace": args.trace,
                "nproc": cpus,
                "loadavg_start": os.getloadavg(),
                "cpu_canary_s": cpu_canary(),
                "python": platform.python_version(),
            }
            t0 = time.perf_counter()
            tables = datagen.generate(DATA_SCALE, DATA_SEED)
            fingerprint = datagen.fingerprint(tables)
            raw = os.path.join(work, "raw")
            datagen.write(tables, raw)
            meta.update(gen_s=time.perf_counter() - t0, fingerprint=fingerprint)

            run = W.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                        raw, work, cpus)
            run.fingerprint = fingerprint
            run.digest_cache = os.path.join(state, W.DIGESTS_FILE)
            if args.workload == "query":
                W.run_query(run)
            else:
                W.run_ingest(run, W.split_holdback(raw, args.seed))

            if args.trace:
                # the event log is complete once its session stops
                run.stop_session()
                values = run.per_layer()
                units = W.PER_LAYER_UNITS
            else:
                e2e = run.end_to_end()
                values = {k: v for k, (v, _) in e2e.items()}
                units = {k: u for k, (_, u) in e2e.items()}
            meta["loadavg_end"] = os.getloadavg()

            results = run.ops + run.curate + run.checks
            failed = [r for r in results if not r["ok"]]
            for r in failed:
                print(f"FAILED {r['name']}: {r.get('error', '')}", file=sys.stderr)
            run.mark("metrics")
            record = {"meta": meta, "phases": run.phases, "setup": run.setup_times,
                      "serve_status": run.serve_status, "memory": run.memory,
                      "ops": run.ops,
                      "curate": run.curate, "checks": run.checks, "metrics": values,
                      "wall_times": run.wall_times()}
            tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
            with open(os.path.join(state, f"run-{tag}.json"), "w") as f:
                json.dump(record, f, indent=1, default=str)
            if args.trace:
                run.tracer.dump(os.path.join(state, f"spans-{tag}.jsonl"))
    finally:
        if run is not None:
            run.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": not failed and bool(results),
        "attempted": len(results),
        "failed": len(failed),
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
