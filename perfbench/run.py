"""Benchmark launcher: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload relational_warm --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The launcher pins the environment, makes
the inputs from the seed, starts ``worker.py`` as a fresh process that
runs the workload, samples the peak RSS of that process tree (Python
driver, JVM and Python workers), and prints every metric by name with
its unit. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``).
A wrong or failed operation makes the exit code non-zero.

See README.md in this directory for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import probes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("relational_warm", "pipeline_warm", "stream_upsert")
DEFAULT_SF = 0.01
SMOKE_SF = 0.001
# stream feed shape: lines per JSON-line file, files per trigger
LINES_PER_FILE = 40
FILES_PER_TRIGGER = 8
RUN_TIMEOUT_S = 150
# peak RSS: sample every RSS_INTERVAL_S, take the median of the last
# RSS_WINDOW samples
RSS_INTERVAL_S = 0.1
RSS_WINDOW = 5
# longest wait for the worker's killed process group to be gone
END_WAIT_S = 10.0

# The end-to-end metrics BENCHMARK.json bounds. Apart from setup_s and
# peak_rss_mb they are CPU time of the worker's process tree (Python
# driver, JVM, Python workers), which on a shared host does not stretch
# when the hypervisor runs other guests; see README.md.
END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "throughput_per_cpu_s": "1/s",
    "op_cpu_p50_ms": "ms",
    "op_cpu_p90_ms": "ms",
    "peak_rss_mb": "MB",
}
# the same figures in wall time, printed by every run
WALL = {
    "first_pass_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}
# the workload-specific name of each metric, printed alongside
ALIASES = {
    "batch": {
        "throughput_per_cpu_s": "queries_per_cpu_s",
        "op_cpu_p50_ms": "query_cpu_p50_ms",
        "op_cpu_p90_ms": "query_cpu_p90_ms",
        "throughput_per_s": "queries_per_s",
        "latency_p50_ms": "query_p50_ms",
        "latency_p90_ms": "query_p90_ms",
    },
    "stream": {
        "first_pass_cpu_s": "first_batch_cpu_s",
        "throughput_per_cpu_s": "events_per_cpu_s",
        "op_cpu_p50_ms": "batch_cpu_p50_ms",
        "op_cpu_p90_ms": "batch_cpu_p90_ms",
        "first_pass_s": "first_batch_s",
        "throughput_per_s": "events_per_s",
        "latency_p50_ms": "batch_p50_ms",
        "latency_p90_ms": "batch_p90_ms",
    },
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.footer_read_s": "s",
    "sources.cache_build_s": "s",
    "sources.normalize_yield": "ratio",
    "queries.plan_build_ms": "ms",
    "queries.plan_serve_ms": "ms",
    "queries.plan_cache_hit_ratio": "ratio",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.job_ms": "ms",
    "exec.task_run_ms": "ms",
    "exec.task_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.core_utilization": "ratio",
    "pipeline.python_total_ms": "ms",
    "pipeline.python_boot_ms": "ms",
    "pipeline.python_bytes_sent": "bytes",
    "pipeline.python_bytes_received": "bytes",
    "pipeline.python_rows_received": "count",
    "delivery.result_rows": "count",
    "delivery.arrow_bytes": "bytes",
    "delivery.driver_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.state_update_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.input_rows": "count",
    "streaming.updates_per_input_row": "ratio",
    "sinks.write_ms": "ms",
    "sinks.rows_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "reference.duckdb_mix_ms": "ms",
    "reference.spark_to_duckdb": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.collect_ms": "ms",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """An eighth of physical memory, between 1 and 2 GiB: the inputs are
    tens of MB, and the machine is shared."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1024, min(2048, total_kb // 1024 // 8))}m"


def pinned_env(work: str) -> dict[str, str]:
    """Environment of the measured process: cores, driver heap, import
    path for Python workers, and fresh temp/local/warehouse dirs."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEMORY": driver_memory(),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # Every JVM (launcher and driver) keeps its temp files, perf
        # counters included, out of the system temp dir, and:
        # - compiles with C1 only. With C2 as well, compiling Catalyst's
        #   and the scheduler's code kept one to three of 4 cores busy
        #   through the whole run, and the CPU time of a warm pass fell
        #   by half over the first fifteen passes. C1 does most of its
        #   compiling before the measured window.
        # - collects with the serial collector and a fixed 32 MB young
        #   generation. G1 sizes its heap from measured pause times, and
        #   the peak RSS of the same run varied from 1.0 to 1.3 GB.
        "JAVA_TOOL_OPTIONS": (
            "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xmn32m "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        # The codegen cache holds 1000 generated classes, not 100: the
        # relational mix sits at the edge of 100, and in about half the
        # runs every warm pass recompiled some 20 classes with Janino
        # (and the JIT compiled them again), costing a third more CPU.
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.sql.codegen.cache.maxEntries=1000 pyspark-shell"
        ),
    }
    return pins


def tree_rss_bytes(root_pid: int, page: int) -> int:
    """Summed resident set of ``root_pid`` and all its descendants."""
    total = 0
    for pid in probes.descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """RSS of a process tree held for at least half a second: the median
    of the last RSS_WINDOW samples, recorded with its time. Python
    workers are forked per task, so a raw maximum would count the
    instant an exiting worker and its successor overlap."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.recent: collections.deque[int] = collections.deque(maxlen=RSS_WINDOW)
        self.held: list[tuple[float, float]] = []
        self._stop_evt = threading.Event()

    def run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self._stop_evt.is_set():
            self.recent.append(tree_rss_bytes(self.pid, page))
            self.held.append((time.time(), statistics.median(self.recent)))
            self._stop_evt.wait(RSS_INTERVAL_S)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    def peak_until(self, t_end: float) -> float:
        """Highest held RSS sampled up to epoch time ``t_end``."""
        return max((rss for t, rss in self.held if t <= t_end), default=0.0)


def end_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the JVM and the
    Python workers share it) and wait until none of it is left. By then
    the worker has written its result and stopped Spark, or has run out
    of time, so a graceful shutdown would only cost time."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + END_WAIT_S
    while time.monotonic() < deadline:
        proc.poll()
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            break
        time.sleep(0.05)
    proc.wait()


def make_inputs(args, work: str) -> dict:
    import inputs

    cfg: dict = {}
    if args.workload == "stream_upsert":
        files = FILES_PER_TRIGGER * (args.seconds + 8)
        cfg["feed_dir"] = os.path.join(work, "feed")
        cfg["feed"] = inputs.write_feed(cfg["feed_dir"], args.seed, files=files, lines_per_file=LINES_PER_FILE)
        cfg.update(
            files_per_trigger=FILES_PER_TRIGGER,
            lines_per_file=LINES_PER_FILE,
            sink_dir=os.path.join(work, "sink"),
            ckpt_dir=os.path.join(work, "ckpt"),
        )
    else:
        cfg["data_dir"] = os.path.join(work, "data")
        cfg["tables"] = inputs.write_tables(cfg["data_dir"], args.sf, args.seed)
    return cfg


def versions() -> dict[str, str]:
    import duckdb
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__, "duckdb": duckdb.__version__}


def run_one(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "utils_infra_spark", "__init__.py")):
        print(f"utils_infra_spark not found under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traces = os.path.join(HERE, "traces")
    try:
        cfg = make_inputs(args, work)
        pins = pinned_env(work)
        cfg.update(
            workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace, sf=args.sf,
            result=os.path.join(work, "result.json"),
        )
        if args.trace:
            os.makedirs(traces, exist_ok=True)
            cfg["spans"] = os.path.join(traces, f"{args.workload}-seed{args.seed}.spans.jsonl")
        cfg_path = os.path.join(work, "config.json")
        env = dict(os.environ, **pins)
        log_path = os.path.join(work, "worker.log")
        cfg["t_spawn"] = time.time()
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
                env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True, cwd=work,
            )
            sampler = RssSampler(proc.pid)
            sampler.start()
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                sampler.stop()
                end_group(proc)
        if code != 0 or not os.path.exists(cfg["result"]):
            with open(log_path) as fh:
                tail = fh.readlines()[-40:]
            why = "timed out" if code is None else f"exited with {code}"
            print(f"worker {why}; last log lines:\n{''.join(tail)}", file=sys.stderr)
            return 1
        with open(cfg["result"]) as fh:
            res = json.load(fh)
        # the window ends with the workload loop: the output checks that
        # follow in the worker (DuckDB, the batch replay) are not the
        # program's memory
        res["e2e"]["peak_rss_mb"] = sampler.peak_until(res["t_loop_end"]) / 2**20
        if args.trace:
            with open(os.path.join(traces, f"{args.workload}-seed{args.seed}.result.json"), "w") as fh:
                json.dump(dict(res, pins=pins, config=cfg), fh, indent=1)
        return report(args, cfg, pins, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(args, cfg: dict, pins: dict, res: dict) -> int:
    kind = "stream" if args.workload == "stream_upsert" else "batch"
    p = lambda *a: print(*a, flush=True)  # noqa: E731
    p(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  trace {args.trace}"
      + (f"  sf {args.sf}" if kind == "batch" else f"  feed {cfg['feed']}"))
    p("pinned  " + "  ".join(f"{k}={v}" for k, v in pins.items()))
    cov = dict(res.get("covariates", {}), nproc=nproc(), seed=args.seed, **versions())
    p("covariates  " + "  ".join(f"{k}={v:.4g}" if isinstance(v, float) else f"{k}={v}" for k, v in cov.items()))
    p("samples  " + "  ".join(f"{k}={v}" for k, v in res["samples"].items()))
    p("setup parts  " + "  ".join(f"{k}={v:.3f}" for k, v in res["setup_parts"].items()))
    for group, values in ((END_TO_END, res["e2e"]), (WALL, res["wall"])):
        for name, unit in group.items():
            alias = ALIASES[kind].get(name)
            label = f"{name} ({alias})" if alias else name
            p(f"  {label:38s} {values[name]:14.4f} {unit}")
    error_rate = res["failed"] / res["attempted"]
    p(f"  {'error_rate':38s} {error_rate:14.4f} ratio  ({res['failed']} failed of {res['attempted']} attempted)")
    for e in res["errors"]:
        p(f"  error: {e}")
    for key in ("pass_s", "pass_cpu_s", "trigger_s", "trigger_cpu_s"):
        if key in res:
            p(f"  {key}  " + " ".join(f"{v:.3f}" for v in res[key]))
    if "per_query_p50_ms" in res and not args.trace:
        p("  per query p50 ms  " + "  ".join(f"{n}={v:.1f}" for n, v in res["per_query_p50_ms"].items()))
    if args.trace:
        for name, unit in PER_LAYER.items():
            p(f"  {name:38s} {res['layer'].get(name, 0.0):14.4f} {unit}")
        if "duckdb_p50_ms" in res:
            p("  per query p50 ms (spark | duckdb)  " + "  ".join(
                f"{n}={res['per_query_p50_ms'][n]:.1f}|{d:.1f}" for n, d in res["duckdb_p50_ms"].items()))
        p(f"spans written to {os.path.relpath(cfg['spans'], ROOT)}")
        metrics = {n: {"value": float(res["layer"].get(n, 0.0)), "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": float(res["e2e"][n]), "unit": u} for n, u in END_TO_END.items()}
    ok = res["failed"] == 0
    p(json.dumps({"correct": ok, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))
    return 0 if ok else 1


def smoke() -> int:
    """Every workload at sf0.001 for a few passes or triggers, untraced
    and traced: each must print every metric BENCHMARK.json names, with
    its unit, and an error_rate of 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]}, 1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    bad = 0
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, __file__, "--workload", workload, "--seed", "1", "--seconds", "4",
                   "--trace", str(trace), "--sf", str(SMOKE_SF)]
            out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
            problems = []
            try:
                last = json.loads(out.stdout.strip().splitlines()[-1])
                got = last["metrics"]
                problems += [f"missing {n}" for n in want[trace] if n not in got]
                problems += [f"{n} unit {got[n]['unit']} != {u}" for n, u in want[trace].items()
                             if n in got and got[n]["unit"] != u]
                if last["failed"] or not last["correct"]:
                    problems.append(f"error_rate {last['failed']}/{last['attempted']}")
            except (IndexError, ValueError, KeyError):
                problems.append(f"no result line (exit {out.returncode}): {out.stderr[-2000:]}")
            bad += bool(problems)
            print(f"smoke {workload} trace={trace}: {'ok' if not problems else '; '.join(problems)}", flush=True)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF, help="scale factor of the batch tables")
    ap.add_argument("--smoke", action="store_true", help="check every workload at sf0.001 and exit")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.workload is None:
        ap.error("--workload is required")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
