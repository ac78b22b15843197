"""The measured process: one workload, one fresh Python process.

Started by ``run.py`` with the path of a JSON config. It starts the
Spark session through ``utils_infra_spark.session``, runs the workload
in a closed loop with one client, checks the outputs, and writes its
measurements to the config's ``result`` path. ``setup_s`` runs from the
moment ``run.py`` spawned this process until the workload is ready to
serve.

With ``trace`` set, every second pass (batch) or batch id (stream) is
traced: the benchmark attributes Spark jobs to it, reads Spark's own
metrics after it, and records spans. The untraced passes of the same
run give the baseline for the tracing overhead.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
from datetime import datetime

import probes
from oracle import mismatch

RELATIONAL = [
    "pricing_summary",
    "composite_agg_orders",
    "order_revenue_top10",
    "nation_revenue",
    "latest_event_per_user",
    "enrich_customer_nation",
    "top3_orders_per_customer",
    "union_distinct_orders",
    "sliding_window_counts",
    "dsl_filter_events",
    "mercator_tile_cover",
    "point_in_polygon_regions",
]
PIPELINE = [
    "dedup_exact_documents",
    "minhash_near_dup_documents",
    "embedding_topk_cosine",
    "embedding_bucketed_pairs",
    "text_stats_documents",
    "token_histogram",
    "char_lm_quality_documents",
    "line_dedup_documents",
    "bloom_novelty_documents",
]
MIXES = {"relational_warm": RELATIONAL, "pipeline_warm": PIPELINE}

EXEC_KEYS = (
    "jobs", "stages", "tasks", "job_ms", "task_run_ms", "task_cpu_ms",
    "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes",
)

# Warm passes before the measured ones. The driver JVM runs with the
# C1 compiler only (see run.py), which has compiled most of the hot
# driver-side paths (Catalyst, scheduling, Py4J) by the third warm pass.
SETTLE_PASSES = 3
# stream triggers before the steady ones, the cold first one included
SETTLE_TRIGGERS = 4
# Nominal time of one warm pass, or of one steady trigger, on 4 cores.
# A run measures seconds / NOMINAL_S of them: a fixed count, so that a
# slow host measures the same passes or triggers as a fast one, not
# fewer of them and earlier in the warm-up.
NOMINAL_S = 2.0
# longest wait for the stream's settling triggers, and for the steady ones
STREAM_WAIT_S = 60

VALUE_COLS = ["lat", "lon", "speed", "course", "name"]
UPSERT_OUT = "mmsi bigint, event_ts timestamp, lat double, lon double, speed double, course double, name string"
UPSERT_STATE = "event_ts timestamp, lat double, lon double, speed double, course double, name string"


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (
            m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
            -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1)),
        ):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    lnb = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    if x < (a + 1.0) / (a + b + 2.0):
        return math.exp(lnb) * _betacf(a, b, x) / a
    return 1.0 - math.exp(lnb) * _betacf(b, a, 1.0 - x) / b


def percentile(values: list[float], p: int) -> float:
    """Harrell-Davis estimate of the ``p``-th percentile: a weighted mean
    of all order statistics with Beta weights centred on the percentile.
    A mix of queries has gaps between per-query latency clusters, and
    picking one or two order statistics lets the estimate jump across a
    gap from run to run; the weighted form moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = p / 100.0 * (n + 1), (1.0 - p / 100.0) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(xs))


def measured(cfg: dict) -> int:
    """How many passes or steady triggers a run measures."""
    return max(3, round(cfg["seconds"] / NOMINAL_S))


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


class Run:
    """State shared by both workload kinds: config, session, tracer,
    operation counts and the result being assembled."""

    def __init__(self, cfg: dict) -> None:
        self.cfg = cfg
        self.trace = bool(cfg["trace"])
        self.tracer = probes.Tracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}
        self.wall: dict[str, float] = {}
        self.samples: dict[str, int] = {}
        self.extra: dict = {}
        self.setup_parts: dict[str, float] = {}
        self.t_loop_end = 0.0
        self._ticks: list[int] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(what[:500])

    def start_session(self) -> None:
        from utils_infra_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark(f"perfbench-{self.cfg['workload']}")
        t1 = time.time()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = t1 - t0
        self.setup_parts.update(spawn_to_session_s=t0 - self.cfg["t_spawn"], session_start_s=t1 - t0)
        self.tracer.add("session.start", t0, t1, None, "setup")

    def ready(self) -> None:
        self.e2e["setup_s"] = time.time() - self.cfg["t_spawn"]

    def loop_end(self) -> None:
        """The workload loop is over: the launcher's peak-RSS window
        closes here, before the covariates and output checks."""
        self.t_loop_end = time.time()

    def covariates(self, when: str) -> None:
        cov = self.extra.setdefault("covariates", {})
        cov[f"loadavg_1m_{when}"] = os.getloadavg()[0]
        cov[f"noop_job_ms_{when}"] = probes.noop_job_s(self.spark) * 1000.0
        ticks = cpu_ticks()
        if when == "before":
            self._ticks = ticks
        elif ticks and self._ticks:
            total = sum(ticks) - sum(self._ticks)
            # share of CPU time the hypervisor gave to other guests
            cov["cpu_steal_share"] = (ticks[7] - self._ticks[7]) / total if total else 0.0
            cov["cpu_busy_share"] = 1.0 - (ticks[3] + ticks[4] - self._ticks[3] - self._ticks[4]) / total

    def jvm_window(self, before: dict[str, float]) -> None:
        """JVM counters over the measured window, as covariates."""
        cov = self.extra.setdefault("covariates", {})
        for k, v in probes.jvm_counters(self.spark).items():
            cov[f"window_{k}"] = v - before[k]

    def job_totals(self, job_ids, window=None) -> tuple[dict, list]:
        probes.wait_listener_bus(self.spark)
        return probes.job_stats(self.spark, job_ids, window)

    def exec_layer(self, totals: list[dict]) -> None:
        for k in EXEC_KEYS:
            self.layer[f"exec.{k}"] = mean(t[k] for t in totals)
        job_ms = sum(t["job_ms"] for t in totals)
        run_ms = sum(t["task_run_ms"] for t in totals)
        self.layer["exec.core_utilization"] = run_ms / (job_ms * self.cores) if job_ms else 0.0

    def result(self) -> dict:
        return {
            "e2e": self.e2e,
            "wall": self.wall,
            "samples": self.samples,
            "layer": self.layer,
            "attempted": self.attempted,
            "failed": self.failed,
            "errors": self.errors,
            "setup_parts": self.setup_parts,
            "t_loop_end": self.t_loop_end,
            **self.extra,
        }


class BatchRun(Run):
    """relational_warm / pipeline_warm: a cold pass, SETTLE_PASSES
    settling warm passes, then ``measured(cfg)`` measured warm passes
    over the query mix."""

    def run(self) -> None:
        from utils_infra_spark.queries import REGISTRY, all_queries
        from utils_infra_spark.session import tune_for_input
        from utils_infra_spark.sources.tables import (
            TABLE_NAMES,
            cache_base_tables,
            load_table,
            set_input_mode,
        )

        cfg = self.cfg
        data = cfg["data_dir"]
        self.start_session()
        spark = self.spark
        t0 = time.time()
        tune_for_input(spark, data)
        for name in TABLE_NAMES:
            load_table(spark, data, name)
        t1 = time.time()
        cache_base_tables(spark, data)
        set_input_mode("cached")
        t2 = time.time()
        all_queries()
        self.ready()
        self.layer["sources.footer_read_s"] = t1 - t0
        self.layer["sources.cache_build_s"] = t2 - t1
        self.setup_parts.update(footer_read_s=t1 - t0, cache_build_s=t2 - t1)
        self.tracer.add("sources.footer_read", t0, t1, None, "setup")
        self.tracer.add("sources.cache_build", t1, t2, None, "setup")
        self.covariates("before")

        mix = [REGISTRY[n] for n in MIXES[cfg["workload"]]]
        self.cores = spark.sparkContext.defaultParallelism
        self.rows: dict[str, set] = {q.name: set() for q in mix}
        self.last: dict = {}
        self.plans: dict = {}
        # per execution: (pass, name, wall_s, plan_s, traced, cpu_ms)
        self.execs: list[tuple] = []
        self.traced_rec: list[dict] = []
        self.cpu = probes.TreeCpu()

        self.wall["first_pass_s"], self.e2e["first_pass_cpu_s"] = self.one_pass(mix, 0, self.trace)
        for p in range(1, 1 + SETTLE_PASSES):
            self.one_pass(mix, p, False)
        first = 1 + SETTLE_PASSES
        jvm0 = probes.jvm_counters(spark)
        # traced runs alternate untraced and traced measured passes
        passes = [
            self.one_pass(mix, p, self.trace and (p - first) % 2 == 1)
            for p in range(first, first + measured(cfg))
        ]
        plain = passes[:: 2 if self.trace else 1]
        self.jvm_window(jvm0)
        warm = [e for e in self.execs if e[0] >= first]
        untraced = [e for e in warm if not e[4]]
        cpu = [e[5] for e in untraced]
        walls = [e[2] * 1000.0 for e in untraced]
        # queries over the median pass: a pass is one round of the mix,
        # and the median keeps a burst in one pass from moving the figure
        self.e2e["throughput_per_cpu_s"] = len(mix) / statistics.median(c for _w, c in plain)
        self.e2e["op_cpu_p50_ms"] = percentile(cpu, 50)
        self.e2e["op_cpu_p90_ms"] = percentile(cpu, 90)
        self.wall["throughput_per_s"] = len(mix) / statistics.median(w for w, _c in plain)
        self.wall["latency_p50_ms"] = percentile(walls, 50)
        self.wall["latency_p90_ms"] = percentile(walls, 90)
        self.samples = {
            "settling_passes": SETTLE_PASSES, "measured_passes": len(passes), "query_samples": len(untraced),
        }
        self.extra["pass_s"] = [w for w, _c in plain]
        self.extra["pass_cpu_s"] = [c for _w, c in plain]
        self.extra["per_query_p50_ms"] = {
            q.name: statistics.median(e[2] * 1000.0 for e in untraced if e[1] == q.name) for q in mix
        }
        self.loop_end()
        self.covariates("after")
        if self.trace:
            self.layers(mix, warm)
        self.check(mix)

    def one_pass(self, mix, p: int, traced: bool) -> tuple[float, float]:
        """Run the mix once; returns the pass wall time and CPU seconds,
        which exclude reading Spark's job data for traced executions."""
        sc = self.spark.sparkContext
        pending = []
        self.cpu.refresh()
        c_pass = self.cpu.read()
        t_pass = time.perf_counter()
        for q in mix:
            req = f"p{p}-{q.name}"
            self.attempted += 1
            if traced:
                sc.setJobGroup(req, q.name)
            try:
                w0 = time.time()
                c0 = self.cpu.read()
                t0 = time.perf_counter()
                df = q.plan(self.spark, self.cfg["data_dir"])
                t1 = time.perf_counter()
                d = df.select("*")
                tbl = d.toArrow()
                t2 = time.perf_counter()
                cpu_ms = self.cpu.ms(c0, self.cpu.read())
            except Exception as e:  # a failed query counts in error_rate; the loop goes on
                self.fail(f"{req}: {type(e).__name__}: {e}")
                continue
            finally:
                if traced:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                self.spark.catalog.clearCache()
            hit = self.plans.get(q.name) is df
            self.plans[q.name] = df
            self.rows[q.name].add(tbl.num_rows)
            self.last[q.name] = tbl
            self.execs.append((p, q.name, t2 - t0, t1 - t0, traced, cpu_ms))
            if traced:
                c0 = time.perf_counter()
                qe = d._jdf.queryExecution()
                pending.append(
                    {
                        "req": req, "pass": p, "name": q.name, "w0": w0, "wall_ms": (t2 - t0) * 1000.0,
                        "plan_ms": (t1 - t0) * 1000.0, "w_plan": w0 + (t1 - t0), "w_end": w0 + (t2 - t0),
                        "hit": hit, "rows": tbl.num_rows, "arrow_bytes": tbl.nbytes,
                        "phases": probes.phase_spans(qe), "python": probes.plan_metrics(qe),
                        "collect_ms": (time.perf_counter() - c0) * 1000.0,
                    }
                )
        wall = time.perf_counter() - t_pass
        self.cpu.refresh()
        cpu_s = self.cpu.ms(c_pass, self.cpu.read()) / 1000.0
        for rec in pending:
            c0 = time.perf_counter()
            ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(rec["req"])
            rec["exec"], jobs = self.job_totals(ids)
            rec["collect_ms"] += (time.perf_counter() - c0) * 1000.0
            self.spans(rec, jobs)
            self.traced_rec.append(rec)
        return wall, cpu_s

    def spans(self, rec: dict, jobs: list) -> None:
        tr, req = self.tracer, rec["req"]
        root = tr.add("request", rec["w0"], rec["w_end"], None, req, query=rec["name"])
        tr.add("queries.plan", rec["w0"], rec["w_plan"], root, req, cache_hit=rec["hit"])
        ex = tr.add("delivery.execute", rec["w_plan"], rec["w_end"], root, req, rows=rec["rows"])
        for phase, (s, e) in rec["phases"].items():
            tr.add(f"catalyst.{phase}", s, e, ex, req)
        for j in jobs:
            tr.add("exec.job", j["start"], j["end"], ex, req, job=j["job"])

    def layers(self, mix, warm) -> None:
        L = self.layer
        cold = [e for e in self.execs if e[0] == 0]
        L["queries.plan_build_ms"] = mean(e[3] * 1000.0 for e in cold)
        L["queries.plan_serve_ms"] = mean(e[3] * 1000.0 for e in warm)
        recs = [r for r in self.traced_rec if r["pass"] > 0]
        L["queries.plan_cache_hit_ratio"] = mean(1.0 if r["hit"] else 0.0 for r in recs)
        for phase in probes.PHASES:
            L[f"catalyst.{phase}_ms"] = mean(
                (r["phases"][phase][1] - r["phases"][phase][0]) * 1000.0 if phase in r["phases"] else 0.0
                for r in recs
            )
        self.exec_layer([r["exec"] for r in recs])
        for k in probes.PYTHON_METRICS.values():
            L[f"pipeline.{k}"] = mean(r["python"][k] for r in recs)
        L["delivery.result_rows"] = mean(r["rows"] for r in recs)
        L["delivery.arrow_bytes"] = mean(r["arrow_bytes"] for r in recs)
        # exec.job_ms is the wall time covered by the execution's jobs,
        # so jobs that ran side by side are not subtracted twice
        L["delivery.driver_ms"] = mean(
            r["wall_ms"] - r["plan_ms"] - r["exec"]["job_ms"]
            - sum((e - s) * 1000.0 for s, e in r["phases"].values())
            for r in recs
        )
        # tracing overhead: per query, median traced wall against median
        # untraced wall over the same run's alternating warm passes
        med = {}
        for traced in (False, True):
            med[traced] = sum(
                statistics.median(e[2] for e in warm if e[1] == q.name and e[4] == traced) for q in mix
            )
        L["trace.overhead_ratio"] = med[True] / med[False] - 1.0
        L["trace.collect_ms"] = mean(r["collect_ms"] for r in recs)

    def check(self, mix) -> None:
        """One result per query against the DuckDB oracle (row count,
        schema, order-insensitive value hash); rows-only queries must
        return the same non-zero row count on every execution."""
        import duckdb

        from utils_infra_spark.sources.tables import TABLE_NAMES

        con = duckdb.connect()
        for t in TABLE_NAMES:
            path = os.path.join(self.cfg["data_dir"], f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        reference = {}
        for q in mix:
            self.attempted += 1
            rows = self.rows[q.name]
            if q.name not in self.last:
                self.fail(f"{q.name}: no successful execution")
                continue
            if len(rows) != 1 or 0 in rows:
                self.fail(f"{q.name}: row counts across executions {sorted(rows)}")
                continue
            if q.oracle is None:
                continue
            want = con.execute(q.oracle).df()
            why = mismatch(self.last[q.name].to_pandas(), want)
            if why:
                self.fail(f"{q.name}: {why}")
            if self.trace:
                runs = []
                for _ in range(4):
                    t0 = time.perf_counter()
                    con.execute(q.oracle).arrow()
                    runs.append((time.perf_counter() - t0) * 1000.0)
                reference[q.name] = statistics.median(runs[1:])
        con.close()
        if self.trace:
            spark_ms = self.extra["per_query_p50_ms"]
            self.extra["duckdb_p50_ms"] = reference
            self.layer["reference.duckdb_mix_ms"] = sum(reference.values())
            self.layer["reference.spark_to_duckdb"] = (
                sum(spark_ms[n] for n in reference) / sum(reference.values()) if reference else 0.0
            )


class StreamRun(Run):
    """stream_upsert: the AIS feed through normalize_any, the keyed
    upsert and a partitioned parquet sink, one foreachBatch per trigger."""

    def run(self) -> None:
        from pyspark.sql import functions as F

        from utils_infra_spark.sinks.partitioned import write_partitioned_parquet
        from utils_infra_spark.sources.normalize import normalize_any
        from utils_infra_spark.streaming.upsert import keyed_upsert_stream

        cfg = self.cfg
        self.start_session()
        spark = self.spark
        self.cores = spark.sparkContext.defaultParallelism
        # state partitions are fixed when the query first starts
        spark.conf.set("spark.sql.shuffle.partitions", str(self.cores))
        collector = probes.ProgressCollector()
        spark.streams.addListener(collector)
        self.ready()
        self.covariates("before")

        t0 = time.perf_counter()
        src = spark.readStream.option("maxFilesPerTrigger", cfg["files_per_trigger"]).text(cfg["feed_dir"])
        upserts = keyed_upsert_stream(
            normalize_any(src.withColumnRenamed("value", "raw")),
            "mmsi",
            "event_ts",
            VALUE_COLS,
            output_schema=UPSERT_OUT,
            state_schema=UPSERT_STATE,
        )
        self.layer["queries.plan_build_ms"] = (time.perf_counter() - t0) * 1000.0

        sink_dir = cfg["sink_dir"]
        batches: dict[int, dict] = {}
        holder: dict = {}

        self.cpu = probes.TreeCpu()
        # process-tree CPU reading at the end of each batch's sink; batch
        # -1 is the query start
        marks: dict[int, dict[int, int]] = {}

        def sink(bdf, bid: int) -> None:
            path = os.path.join(sink_dir, f"batch={bid}")
            w0 = time.time()
            write_partitioned_parquet(bdf.withColumn("day", F.to_date("event_ts")), path, ["day"])
            rec = {"write_start": w0, "write_end": time.time(), "traced": False}
            self.cpu.refresh()
            marks[bid] = self.cpu.read()
            if self.trace and bid % 2 == 0 and "q" in holder:
                c0 = time.perf_counter()
                qe = holder["q"]._jsq.streamingQuery().lastExecution()
                rec.update(traced=True, python=probes.plan_metrics(qe), phases=probes.phase_spans(qe))
                rec.update(disk_stats(path))
                rec["collect_ms"] = (time.perf_counter() - c0) * 1000.0
            batches[bid] = rec

        n_steady = measured(cfg)
        self.cpu.refresh()
        marks[-1] = self.cpu.read()
        q = (
            upserts.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", cfg["ckpt_dir"])
            .start()
        )
        holder["q"] = q
        try:
            # the first trigger is the cold one; the next ones still settle
            # (worker pool, compiled code), so the steady ones follow them
            if not collector.wait_for(SETTLE_TRIGGERS, timeout=STREAM_WAIT_S):
                raise RuntimeError(f"the first {SETTLE_TRIGGERS} triggers did not complete within {STREAM_WAIT_S} s")
            t_steady = time.time()
            jvm0 = probes.jvm_counters(spark)
            if not collector.wait_for(SETTLE_TRIGGERS + n_steady, timeout=STREAM_WAIT_S):
                raise RuntimeError(f"{n_steady} steady triggers did not complete within {STREAM_WAIT_S} s")
        finally:
            t_stop = time.time()
            err = q.exception()
            q.stop()
            self.loop_end()
        if err is not None:
            self.fail(f"stream: {err}")
        self.jvm_window(jvm0)
        probes.wait_listener_bus(spark)
        events = sorted(collector.events, key=lambda e: e["batchId"])
        lines_per_trigger = cfg["files_per_trigger"] * cfg["lines_per_file"]
        self.attempted += len(events)
        first = events[0]
        steady = [e for e in events if SETTLE_TRIGGERS <= e["batchId"] < SETTLE_TRIGGERS + n_steady]
        trig = [e["durationMs"]["triggerExecution"] for e in steady]
        # CPU of trigger b: from the end of batch b-1's sink to the end
        # of its own
        cpu = [probes.TreeCpu.ms(marks[e["batchId"] - 1], marks[e["batchId"]]) for e in steady]
        self.e2e["first_pass_cpu_s"] = probes.TreeCpu.ms(marks[-1], marks[0]) / 1000.0
        # feed lines per CPU second over the median trigger (see BatchRun)
        self.e2e["throughput_per_cpu_s"] = lines_per_trigger / (percentile(cpu, 50) / 1000.0)
        self.e2e["op_cpu_p50_ms"] = percentile(cpu, 50)
        self.e2e["op_cpu_p90_ms"] = percentile(cpu, 90)
        self.wall["first_pass_s"] = first["durationMs"]["triggerExecution"] / 1000.0
        self.wall["throughput_per_s"] = lines_per_trigger / (percentile(trig, 50) / 1000.0)
        self.wall["latency_p50_ms"] = percentile(trig, 50)
        self.wall["latency_p90_ms"] = percentile(trig, 90)
        self.samples = {"steady_triggers": len(steady), "lines_per_trigger": lines_per_trigger}
        self.extra["trigger_cpu_s"] = [c / 1000.0 for c in cpu]
        self.extra["trigger_s"] = [t / 1000.0 for t in trig]
        self.covariates("after")
        if self.trace:
            self.layers(steady, batches, t_steady, t_stop, lines_per_trigger)
        self.check(normalize_any)

    def layers(self, steady, batches, t_steady, t_stop, lines_per_trigger) -> None:
        L = self.layer
        dur = lambda e, k: e["durationMs"].get(k, 0)  # noqa: E731
        op = lambda e: (e.get("stateOperators") or [{}])[0]  # noqa: E731
        L["streaming.trigger_ms"] = mean(dur(e, "triggerExecution") for e in steady)
        L["streaming.add_batch_ms"] = mean(dur(e, "addBatch") for e in steady)
        L["streaming.wal_commit_ms"] = mean(dur(e, "walCommit") for e in steady)
        L["streaming.state_update_ms"] = mean(op(e).get("allUpdatesTimeMs", 0) for e in steady)
        L["streaming.state_commit_ms"] = mean(op(e).get("commitTimeMs", 0) for e in steady)
        L["streaming.state_rows_total"] = op(steady[-1]).get("numRowsTotal", 0)
        L["streaming.state_memory_bytes"] = op(steady[-1]).get("memoryUsedBytes", 0)
        L["streaming.input_rows"] = mean(e["numInputRows"] for e in steady)
        L["streaming.updates_per_input_row"] = sum(op(e).get("numRowsUpdated", 0) for e in steady) / (
            len(steady) * lines_per_trigger
        )
        L["catalyst.planning_ms"] = mean(dur(e, "queryPlanning") for e in steady)
        recs = [batches[e["batchId"]] for e in steady if e["batchId"] in batches]
        traced = [r for r in recs if r["traced"]]
        for phase in ("analysis", "optimization"):
            L[f"catalyst.{phase}_ms"] = mean(
                (r["phases"][phase][1] - r["phases"][phase][0]) * 1000.0 if phase in r["phases"] else 0.0
                for r in traced
            )
        for k in probes.PYTHON_METRICS.values():
            L[f"pipeline.{k}"] = mean(r["python"][k] for r in traced)
        L["sinks.write_ms"] = mean((r["write_end"] - r["write_start"]) * 1000.0 for r in recs)
        for k in ("rows_written", "bytes_written", "files_written"):
            L[f"sinks.{k}"] = mean(r[k] for r in traced)
        # every job of the steady window belongs to the stream: nothing
        # else runs in this process meanwhile
        totals, jobs = self.job_totals(probes.all_job_ids(self.spark), window=(t_steady, t_stop))
        self.exec_layer([{k: v / len(steady) for k, v in totals.items()}])
        by_bid = {e["batchId"]: e["durationMs"]["triggerExecution"] for e in steady}
        t_traced = [by_bid[b] for b, r in batches.items() if b in by_bid and r["traced"]]
        t_plain = [by_bid[b] for b, r in batches.items() if b in by_bid and not r["traced"]]
        L["trace.overhead_ratio"] = (
            statistics.median(t_traced) / statistics.median(t_plain) - 1.0 if t_traced and t_plain else 0.0
        )
        L["trace.collect_ms"] = mean(r["collect_ms"] for r in traced)
        for e in steady:
            bid = e["batchId"]
            start = datetime.fromisoformat(e["timestamp"].replace("Z", "+00:00")).timestamp()
            req = f"batch-{bid}"
            root = self.tracer.add("streaming.trigger", start, start + dur(e, "triggerExecution") / 1000.0, None, req)
            if bid in batches:
                r = batches[bid]
                self.tracer.add("sinks.write", r["write_start"], r["write_end"], root, req)
            for j in jobs:
                if start <= j["start"] <= start + dur(e, "triggerExecution") / 1000.0:
                    self.tracer.add("exec.job", j["start"], j["end"], root, req, job=j["job"])

    def check(self, normalize_any) -> None:
        """Final per-vessel state read back from the sink must equal
        ``keyed_upsert_batch`` replayed over the normalized lines of
        every committed trigger."""
        import pyarrow.dataset as pads

        from utils_infra_spark.streaming.upsert import keyed_upsert_batch

        cfg, spark = self.cfg, self.spark
        self.attempted += 1
        commits = os.path.join(cfg["ckpt_dir"], "commits")
        done = sorted(int(f) for f in os.listdir(commits) if f.isdigit())
        if done != list(range(len(done))) or not done:
            self.fail(f"stream: committed batch ids {done[:5]}...")
            return
        n_files = len(done) * cfg["files_per_trigger"]
        files = sorted(os.listdir(cfg["feed_dir"]))[:n_files]
        lines = spark.read.text([os.path.join(cfg["feed_dir"], f) for f in files]).withColumnRenamed("value", "raw")
        canon = normalize_any(lines)
        want = keyed_upsert_batch(canon, "mmsi", "event_ts", VALUE_COLS).toPandas()
        # the sink side is read with pyarrow: one Spark job less per run
        sunk = pads.dataset(cfg["sink_dir"], format="parquet", partitioning="hive").to_table().to_pandas()
        sunk = sunk[sunk["batch"] < len(done)]
        got = sunk.sort_values("batch", kind="stable").groupby("mmsi").tail(1)
        why = mismatch(got[["mmsi", "event_ts", *VALUE_COLS]], want[["mmsi", "event_ts", *VALUE_COLS]])
        if why:
            self.fail(f"stream final state: {why}")
        n_lines = n_files * cfg["lines_per_file"]
        if self.trace:
            self.layer["sources.normalize_yield"] = canon.count() / n_lines
        self.extra["stream_check"] = {"batches": len(done), "lines": n_lines, "vessels": len(want)}


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), or [] where it is absent."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def disk_stats(path: str) -> dict:
    """Rows, bytes and files of the parquet written under ``path``."""
    import pyarrow.parquet as pq

    rows = size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(root, n)
                files += 1
                size += os.path.getsize(p)
                rows += pq.read_metadata(p).num_rows
    return {"rows_written": rows, "bytes_written": size, "files_written": files}


def main() -> int:
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)
    run = StreamRun(cfg) if cfg["workload"] == "stream_upsert" else BatchRun(cfg)
    try:
        run.run()
    finally:
        spark = getattr(run, "spark", None)
        if cfg["trace"]:
            run.tracer.write(cfg["spans"])
        if spark is not None:
            spark.stop()
    with open(cfg["result"], "w") as fh:
        json.dump(run.result(), fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
