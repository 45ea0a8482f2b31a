"""Repository benchmark: one seeded workload per call, timed from outside.

    python3 perfbench/run.py --workload crawl-steady --seed 1 --seconds 10 --trace 0

Runs the engine in the checkout that holds this file on local[nproc],
through its public API only, checks every output against a reference
that does not use Spark, and prints one JSON object as the last line of
standard output:

    {"correct": true, "attempted": 2, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
the per-layer ones. Metric names, units and the workload list come from
BENCHMARK.json; perfbench/workloads.json records why each workload was
chosen, its seeds and which layer metric should move which end-to-end
metric. A layer that a workload never calls reports 0.

Spark's own output (log4j, the Python workers) goes to a log file under
perfbench/.work, whose ERROR lines are counted as `log.error_lines`.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = {"crawl-steady": "crawl_steady", "index-search": "index_search"}


def _process_age_s() -> float:
    """Seconds since this process started (from /proc), so set-up time
    includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROCESS_START = time.perf_counter() - _process_age_s()


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _import_tree():
    """Import the engine from this checkout, never from elsewhere, and make
    Spark's Python workers (children of the JVM) load the same tree."""
    pkg = os.path.join(ROOT, "searchengine_spark", "__init__.py")
    if not os.path.isfile(pkg):
        raise SystemExit(f"perfbench: no engine tree at {ROOT}")
    sys.path.insert(0, ROOT)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    import searchengine_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(searchengine_spark.__file__))) != ROOT:
        raise SystemExit("perfbench: searchengine_spark imported from outside the checkout")


class Ctx:
    """What a workload gets: its arguments, a Spark session, a scratch
    directory inside the checkout and the session's start time."""

    def __init__(self, args, run_dir: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.nproc = _nproc()
        self.t_process_start = T_PROCESS_START
        self.spark = None
        self.session_start_s = 0.0

    def note(self, what: str) -> None:
        """A phase mark in the run's log, as seconds since process start."""
        t = time.perf_counter() - self.t_process_start
        print(f"perfbench: {what} at {t:.2f}s", file=sys.stderr, flush=True)

    def start_spark(self):
        from searchengine_spark.session import get_spark

        t = time.perf_counter()
        local = os.path.join(self.run_dir, "spark-local")
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=max(8, self.nproc),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "3g",
                "spark.local.dir": local,
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            },
        )
        self.session_start_s = time.perf_counter() - t
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session, then end the JVM (it exits when its stdin
        closes) and wait for it and every other child process."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from perfbench import probes

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        deadline = time.monotonic() + 60
        while probes.children().get(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.2)
        self.note("session stopped")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _finish(spec: dict, res: dict, trace: bool) -> dict:
    """Shape the workload's result into the output object. Every metric
    of the requested kind must be reported, except those of the layers
    the workload never calls, which read 0."""
    kind = "per_layer" if trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        if m["name"] not in res["metrics"]:
            if not m["name"].startswith(res["idle_layers"]):
                raise RuntimeError(f"workload did not report {m['name']}")
            res["metrics"][m["name"]] = 0
        metrics[m["name"]] = {"value": res["metrics"][m["name"]], "unit": m["unit"]}
    return {
        "correct": bool(res["correct"]) and res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    spec = _load_spec()
    _import_tree()
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    log_path = os.path.join(WORK, f"{args.workload}-t{args.trace}.log")  # last run's

    # Spark and its workers write to fds 1/2; keep both for the log so the
    # last line of real stdout is the result
    out_fd, err_fd = os.dup(1), os.dup(2)
    sys.stdout.flush()
    sys.stderr.flush()
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    ctx = Ctx(args, run_dir)
    out = None
    try:
        mod = importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}")
        res = mod.run(ctx)
        ctx.stop_spark()
        sys.stdout.flush()
        sys.stderr.flush()
        with open(log_path, errors="replace") as f:
            res["metrics"]["log.error_lines"] = sum(1 for line in f if " ERROR " in line)
        out = _finish(spec, res, ctx.trace)
    except Exception:  # reported below with the log's tail, exit code 1
        traceback.print_exc()
    finally:
        ctx.stop_spark()
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(out_fd, 1)
        os.dup2(err_fd, 2)
        os.close(out_fd)
        os.close(err_fd)
        shutil.rmtree(run_dir, ignore_errors=True)
    if out is None:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
