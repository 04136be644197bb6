"""Benchmark of the sensql_presto_spark engine, measured from outside.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (spans written to
``.perfbench_work/trace-<workload>.json``).  Progress goes to standard
error.  See ``perfbench/README.md`` for the workloads and metrics.

Workloads: ``pipeline_staged`` and ``sensql_fanout`` drive the engine
in-process; ``server_mix`` drives ``python -m sensql_presto_spark.server``
over the Presto protocol from four client threads.

The run environment is pinned here, so both sides of a comparison run
alike: Spark gets every CPU of the process (``SPARK_GRAFT_CPUS``), a
driver heap sized to the host (``SPARK_GRAFT_DRIVER_MEM``), and a working
directory ``.perfbench_work/`` inside the checkout for Spark's local
dirs, temp files and the server's warehouse.  The generated tables are
kept in ``.perfbench_data/`` and reused by later runs.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DATA = os.path.join(ROOT, ".perfbench_data")

# The highest percentile with at least ten samples beyond it at each
# workload's request count with --seconds 10: 12 requests on the two
# single-client workloads, 80 on server_mix (see README.md).
TAIL_PERCENTILE = {"pipeline_staged": 16, "sensql_fanout": 16, "server_mix": 85}

# Every traced run reports every layer; a layer the workload leaves idle
# reads 0.
PER_LAYER = (
    "catalog.table_calls",
    "catalog.table_s",
    "catalog.jobs",
    "sensql.rewrite_s",
    "sensql.resolve_s",
    "sensql.nodes_resolved",
    "sensql.branch_build_s",
    "sensql.branches",
    "sensql.plan_s",
    "queries.build_s",
    "queries.build_jobs",
    "queries.build_stages",
    "exec.run_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "statements.execute_read_s",
    "statements.execute_write_s",
    "server.fork_s",
    "server.forks",
    "server.submit_s",
    "server.polls",
    "server.pages",
    "server.page_s",
    "server.retained_queries",
    "server.failed",
    "host.calib_s",
    "bench.warmup_s",
    "bench.trace_overhead",
)

END_TO_END_UNITS = {
    "setup_s": "s",
    "throughput_qps": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "first_page_p50_s": "s",
    "driver_rss_mb": "MiB",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - PROCESS_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of physical memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, total_kib // (4 * 1024 * 1024)))}g"


def pin_environment() -> dict:
    """Environment for this process and the server it may start."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
    }
    os.environ.update(env)
    return env


def layer_unit(name: str) -> str:
    if name == "bench.trace_overhead":
        return "ratio"
    return "s" if name.endswith("_s") else "count"


def program_digest() -> str:
    """Digest of the engine's source files."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "sensql_presto_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


class Context:
    def __init__(self, args, tracer) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracer = tracer
        self.data_dir = DATA
        self.work_dir = WORK
        self.process_start = PROCESS_START
        self.log = log
        self._digest = None

    def answer(self, key: str, compute):
        """The independent answer for ``key``, computed once per checkout.

        Answers are pickled under the data directory, keyed on the engine's
        source digest, the table version and ``key``, so a later run of the
        same program on the same tables reuses them instead of recomputing.
        """
        import pickle

        import datagen

        if self._digest is None:
            self._digest = program_digest()
        name = hashlib.sha256(f"{self._digest}|{datagen.VERSION}|{key}".encode()).hexdigest()
        path = os.path.join(self.data_dir, "answers", f"{name}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        value = compute()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(value, f)
        os.replace(path + ".tmp", path)
        return value

    @staticmethod
    def calibrate(spark) -> float:
        """Fixed host-speed probe: the faster of two spark.range aggregates."""
        times = []
        for _ in range(2):
            t0 = time.perf_counter()
            spark.range(0, 20_000_000, 1, 4).selectExpr("sum(id % 7) AS s").collect()
            times.append(time.perf_counter() - t0)
        return min(times)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("pipeline_staged", "sensql_fanout", "server_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sensql_presto_spark")):
        log(f"no sensql_presto_spark package under {ROOT}; nothing to measure")
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    env = pin_environment()
    sys.path[:0] = [ROOT, HERE]
    os.chdir(WORK)
    log("environment " + json.dumps({k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}))

    from spans import Tracer, median, percentile

    t0 = time.time()
    # in a child process, so generating the tables does not count in this
    # process's peak RSS
    subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), DATA], check=True)
    datagen_s = time.time() - t0
    log(f"tables ready in {DATA} ({datagen_s:.1f}s)")

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Context(args, tracer)
    # Generating the tables is the benchmark's own input preparation, done
    # once per checkout; it is not part of the engine's set-up time.
    ctx.process_start += datagen_s

    if args.workload == "server_mix":
        import servermix

        res = servermix.run(ctx)
    else:
        import inprocess

        res = inprocess.run(inprocess.WORKLOADS[args.workload], ctx)

    lat = res["latencies"]
    pct = TAIL_PERCENTILE[args.workload]
    log(
        f"{len(lat)} timed requests in {res['wall_s']:.2f}s; tail = p{pct}; "
        f"host probe {res['calib_s'][0]:.3f}s before, {res['calib_s'][1]:.3f}s after; "
        f"warm-up {res['warmup_s']:.2f}s"
    )
    if not lat:
        log("no request completed")
        return 1
    if args.trace:
        layers = dict(res["layers"])
        layers["host.calib_s"] = median(res["calib_s"])
        layers["bench.warmup_s"] = res["warmup_s"]
        overhead_s = tracer.overhead_s + res.get("trace_overhead_s", 0.0)
        layers["bench.trace_overhead"] = overhead_s / res["wall_s"]
        metrics = {
            k: {"value": float(layers.get(k, 0.0)), "unit": layer_unit(k)} for k in PER_LAYER
        }
        trace_path = os.path.join(WORK, f"trace-{args.workload}.json")
        tracer.dump(trace_path)
        log(f"spans written to {trace_path}")
    else:
        values = {
            "setup_s": res["setup_s"],
            "throughput_qps": len(lat) / res["wall_s"],
            "latency_p50_s": median(lat),
            "latency_tail_s": percentile(lat, pct),
            "first_page_p50_s": median(res["first_page"]),
            "driver_rss_mb": res["rss_mib"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
