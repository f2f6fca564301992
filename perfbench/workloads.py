"""The benchmark's workloads, their output checks and per-layer probes.

Each workload runs in its own process: ``prepare`` generates (or reuses)
the seeded inputs and their oracle, ``start_session`` is the measured
set-up, ``run`` is the measured part, ``report`` builds the result line.
End-to-end metrics keep one name across workloads (BENCHMARK.json lists
them once); the detail line also gives each under its workload-specific
name, e.g. ``warm_cpu_s`` on ``ingest`` is ``batch_call_cpu_p50_s``.

Operations are timed twice: by the wall clock, and by the CPU time the
program's processes used (``CpuClock``). The wall-clock figures go to the
detail line; the bounded end-to-end metrics are the CPU figures, because
the guest's CPU accounting leaves out the time the hypervisor stole.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import threading
import time
import urllib.request

import gen
from spans import LAYERS, Tracer, span_cost_s

E2E_UNITS = {
    "setup_s": "s",
    "warm_cpu_s": "s",
    "item_cpu_s": "s",
}

# Query mix, in execution order: (layer the key exercises, key).
QUERY_KEYS = [
    ("analytics", "q1_pricing_summary"),
    ("analytics", "q3_top_revenue"),
    ("analytics", "q5_nation_revenue"),
    ("analytics", "q6_forecast_revenue"),
    ("analytics", "q18_large_volume"),
    ("analytics", "q_running_spend"),
    ("analytics", "q_sessionize"),
    ("analytics", "q_distinct_users"),
    ("dedup", "d_near_dup_pairs"),
    ("similarity", "v_topk_scalable"),
    ("text", "t_tfidf_top_term"),
    ("corpus", "c_chunks"),
]


def _key_metric(layer: str, key: str) -> str:
    return f"analytics.{key}_s" if layer == "analytics" else f"corpus.{key}_s"


PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.first_job_s": "s",
    "readers.csv_scan_s": "s",
    "readers.parquet_scan_s": "s",
    "clean.self_s": "s",
    "clean.rows_in": "count",
    "clean.rows_short": "count",
    "pipeline.call_s": "s",
    "pipeline.jobs_per_call": "count",
    "pipeline.tasks_per_call": "count",
    "writers.self_s": "s",
    "writers.files_written": "count",
    "writers.bytes_per_input_byte": "ratio",
    "writers.stream_write_s": "s",
    "metrics.run_counts_s": "s",
    "stream.batch_s_p50": "s",
    "stream.addBatch_s_p50": "s",
    "stream.latestOffset_s_p50": "s",
    "stream.walCommit_s_p50": "s",
    "stream.commitOffsets_s_p50": "s",
    "stream.wait_s_p50": "s",
    "stream.files_per_s": "1/s",
    "stream.jobs_per_batch": "count",
    "stream.output_files": "count",
    "stream.checkpoint_bytes": "bytes",
    "stream.generator_lag_s": "s",
    "stream.backlog_files": "count",
    "analytics.tasks_per_query": "count",
    "analytics.shuffle_bytes": "bytes",
    "dedup.lsh_pairs_s": "s",
    "dedup.lsh_precision": "ratio",
    "corpus.chunk_s": "s",
    "similarity.topk_scalable_s": "s",
    "text.tfidf_s": "s",
    **{_key_metric(layer, key): "s" for layer, key in QUERY_KEYS},
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.spans": "count",
    "trace.est_overhead_s": "s",
}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _tail(xs: list[float]) -> float:
    """The highest percentile the sample supports: p90 from ten samples,
    the maximum below that."""
    if len(xs) >= 10:
        return statistics.quantiles(xs, n=10)[-1]
    return max(xs) if xs else 0.0


def _geomean(xs) -> float:
    """Geometric mean over the positive values: each query weighs the same
    whatever its cost, and the figure does not jump between queries."""
    logs = [math.log(x) for x in xs if x > 0]
    return math.exp(statistics.fmean(logs)) if logs else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, *args) -> float:
    t = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t


def _dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose names end with ``suffix``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(suffix):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def table_digests(spark, path: str, by: list[str] | None = None) -> list[dict]:
    """Row count and the two md5 half-sums of a status table (see
    ``gen.row_digest``), optionally grouped by columns."""
    from pyspark.sql import functions as F

    from gcp_food_delivery_data_pipeline_spark.schema import OUT_COLS

    if not os.path.exists(path):
        return []
    md5 = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in OUT_COLS]))
    aggs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.conv(F.substring(md5, 1, 8), 16, 10).cast("long")).alias("h1"),
        F.sum(F.conv(F.substring(md5, 9, 8), 16, 10).cast("long")).alias("h2"),
    ]
    df = spark.read.parquet(path)
    rows = (df.groupBy(*by).agg(*aggs) if by else df.agg(*aggs)).collect()
    return [r.asDict() for r in rows]


class CpuClock:
    """CPU seconds used so far by this process and by the Spark JVM with
    every process below it (the Python workers)."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        stats: dict[int, list[str]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stats[int(d)] = f.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while being read
                pass
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(int(st[1]), []).append(pid)
        own = stats.get(os.getpid())
        ticks = int(own[11]) + int(own[12]) if own else 0
        # utime, stime and the reaped children's cutime, cstime
        todo = [self.jvm_pid]
        while todo:
            pid = todo.pop()
            st = stats.get(pid)
            if st is None:
                continue
            ticks += sum(int(x) for x in st[11:15])
            todo.extend(children.get(pid, []))
        return ticks / self.tick


class RssSampler:
    """Peak anonymous RSS of a process, sampled every ``period`` seconds.

    File-backed pages are left out: the host reclaims them under memory
    pressure, which moved the JVM's VmHWM by hundreds of MB between
    otherwise identical runs.
    """

    def __init__(self, pid: int, period: float = 0.2) -> None:
        self.pid = pid
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        with open(f"/proc/{self.pid}/status") as f:
            for line in f:
                if line.startswith("RssAnon:"):
                    self.peak_kb = max(self.peak_kb, int(line.split()[1]))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_kb / 1024.0


class Workload:
    name = ""

    def __init__(self, seed: int, seconds: float, traced: bool,
                 cache_dir: str, run_dir: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.cache_dir = cache_dir
        self.run_dir = run_dir
        self.tracer = Tracer(f"{self.name}-{seed}-{os.getpid()}") if traced else None
        self.spark = None
        self.setup_s = 0.0
        self.peak_rss_mb = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.detail: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, float] = {}

    # -- lifecycle -----------------------------------------------------------

    def wants_ui(self) -> bool:
        return False

    def prepare(self) -> None:
        """Generate inputs and oracle (untimed)."""

    def imports(self) -> None:
        """Modules the workload calls into, imported during set-up."""

    def start_session(self, conf: dict[str, str]) -> None:
        self.imports()
        if self.tracer:
            self.tracer.install()
        from gcp_food_delivery_data_pipeline_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_spark(extra_conf=conf)
        t1 = time.perf_counter()
        self.spark.range(1).count()
        t2 = time.perf_counter()
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["session.first_job_s"] = t2 - t1
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self._rss = RssSampler(jvm_pid)
        self.cpu = CpuClock(jvm_pid)

    def run(self) -> None:
        raise NotImplementedError

    def close(self) -> None:
        if self.spark is None:
            return
        self.peak_rss_mb = self._rss.stop()
        gateway = self.spark.sparkContext._gateway
        jvm = gateway.proc
        self.spark.stop()
        # the JVM exits once its stdin closes; wait so it does not outlive the run
        gateway.shutdown()
        jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        if self.tracer:
            self.tracer.uninstall()
            out = os.path.join(os.path.dirname(self.run_dir), "spans")
            os.makedirs(out, exist_ok=True)
            self.tracer.dump(os.path.join(out, f"{self.tracer.run_id}.json"))

    # -- bookkeeping ---------------------------------------------------------

    def op(self, ok: bool, what: str) -> None:
        """Count one attempted operation; a wrong output fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def error(self, what: str) -> None:
        """A check failure not tied to one operation."""
        self.errors.append(what)

    def report(self) -> tuple[dict, dict]:
        e2e = dict(self.e2e, setup_s=self.setup_s)
        detail = {
            "workload": self.name,
            "seed": self.seed,
            "traced": self.traced,
            "errors": self.errors[:20],
            "metrics": {
                "setup_s": {"value": self.setup_s, "unit": "s"},
                "peak_rss_mb": {"value": self.peak_rss_mb, "unit": "MB"},
                "error_rate": {
                    "value": self.failed / max(1, self.attempted), "unit": "ratio"
                },
                **{k: {"value": v, "unit": u} for k, (v, u) in self.detail.items()},
                **{k: {"value": e2e.get(k, 0.0), "unit": E2E_UNITS[k]} for k in E2E_UNITS},
            },
        }
        if self.traced:
            self._finish_layers()
            metrics = {
                k: {"value": float(self.layer.get(k, 0.0)), "unit": u}
                for k, u in PER_LAYER_UNITS.items()
            }
        else:
            metrics = {
                k: {"value": float(e2e.get(k, 0.0)), "unit": u} for k, u in E2E_UNITS.items()
            }
        result = {
            "correct": self.failed == 0 and not self.errors and self.attempted > 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed if self.attempted else 1,
            "metrics": metrics,
        }
        return detail, result

    def _finish_layers(self) -> None:
        for layer, s in self.tracer.self_times().items():
            self.layer[f"self.{layer}_s"] = s
        self.layer["trace.spans"] = len(self.tracer.spans)
        # a model, not a measurement: spans times the cost of one empty span
        self.layer["trace.est_overhead_s"] = len(self.tracer.spans) * span_cost_s()


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest(Workload):
    """The reference job in both of its forms, one after the other in one
    process: ``run_pipeline`` on one seeded food CSV in a closed loop, then
    ``run_stream`` over a landing directory, one file per micro-batch, with
    an open-loop arrival phase and a pre-landed backlog."""

    name = "ingest"
    ROWS = 60_000
    # warm calls kept getting cheaper through the fourth call in a process
    WARMUP_CALLS = 3
    MIN_CALLS = 4
    STREAM_ROWS = 891  # the reference file's size
    # The first prelude file is the stream's cold micro-batch; the batch
    # phase has already warmed the clean and write code it shares.
    PRELUDE = 2
    INTERVAL_S = 2.0
    MIN_ARRIVALS = 4
    BACKLOG = 3
    WAIT_S = 60.0

    def prepare(self) -> None:
        # the oracle must agree with the unit-test fixture's golden counts
        from tests import fixtures

        got = gen.fixture_self_check(fixtures.ROWS)
        want = {
            "pre": (fixtures.N_COUNT_TOTAL, fixtures.N_COUNT_DELIVERED, fixtures.N_COUNT_OTHER),
            "post": (fixtures.N_TOTAL, fixtures.N_DELIVERED, fixtures.N_OTHER),
        }
        if got != want:
            raise RuntimeError(f"food oracle disagrees with tests/fixtures.py: {got} != {want}")
        self.csv, self.oracle = gen.food_csv(self.cache_dir, self.seed, self.ROWS)
        self.n_arr = max(self.MIN_ARRIVALS, math.ceil(self.seconds / 2 / self.INTERVAL_S))
        self.files = gen.stream_files(
            self.cache_dir, self.seed, self.PRELUDE + self.n_arr + self.BACKLOG,
            self.STREAM_ROWS,
        )

    def imports(self) -> None:
        import gcp_food_delivery_data_pipeline_spark.pipeline  # noqa: F401
        import gcp_food_delivery_data_pipeline_spark.streaming.stream  # noqa: F401

    def run(self) -> None:
        self._run_batch()
        self._run_stream()

    # -- batch ---------------------------------------------------------------

    def _call(self, i: int) -> tuple[float, float, str, bool]:
        """One ``run_pipeline`` call: (wall s, CPU s, output dir, ok)."""
        from gcp_food_delivery_data_pipeline_spark import pipeline

        out = os.path.join(self.run_dir, f"batch-{i}")
        if self.traced:
            self.spark.sparkContext.setJobGroup(f"perfbench-call-{i}", "run_pipeline")
        c = self.cpu()
        t = time.perf_counter()
        res = pipeline.run_pipeline(self.spark, self.csv, out)
        dt_s = time.perf_counter() - t
        cpu_s = self.cpu() - c
        o = self.oracle
        got = (res.counts.total, res.counts.delivered, res.counts.other)
        ok = got == (o["total"], o["delivered"], o["other"])
        if not ok:
            self.errors.append(f"call {i}: counts {got} != oracle")
        return dt_s, cpu_s, out, ok

    def _tables_ok(self, out: str) -> bool:
        ok = True
        for table, key in (("delivered_orders", "delivered"), ("other_status_orders", "other")):
            want = self.oracle["tables"][key]
            got = table_digests(self.spark, os.path.join(out, table))
            got = got[0] if got else {"rows": 0, "h1": None, "h2": None}
            if want["rows"] == 0 and got["rows"] == 0:
                continue
            if (got["rows"], got["h1"], got["h2"]) != (want["rows"], want["h1"], want["h2"]):
                self.errors.append(f"{table}: {got} != oracle {want}")
                ok = False
        return ok

    def _run_batch(self) -> None:
        cold, cold_cpu, out, ok = self._call(0)
        self.op(ok and self._tables_ok(out), "cold call")
        shutil.rmtree(out, ignore_errors=True)
        for i in range(1, 1 + self.WARMUP_CALLS):
            _, _, out, ok = self._call(i)
            self.op(ok, f"warm-up call {i}")
            shutil.rmtree(out, ignore_errors=True)
        lat: list[float] = []
        cpu: list[float] = []
        calls: list[int] = []
        t_end = time.perf_counter() + self.seconds / 2
        last = None
        while len(lat) < self.MIN_CALLS or time.perf_counter() < t_end:
            i = 1 + self.WARMUP_CALLS + len(lat)
            dt_s, cpu_s, out, ok = self._call(i)
            if last:
                self.op(last[1], f"call {i - 1}")
                shutil.rmtree(last[0], ignore_errors=True)
            lat.append(dt_s)
            cpu.append(cpu_s)
            calls.append(i)
            last = (out, ok)
        # the last call's output also gets the full table check
        last_out = last[0]
        self.op(last[1] and self._tables_ok(last_out), f"call {calls[-1]}")
        p50 = _median(lat)
        self.e2e.update(warm_cpu_s=_median(cpu))
        self.detail.update(
            batch_cold_s=(cold, "s"),
            batch_cold_cpu_s=(cold_cpu, "s"),
            batch_call_p50_s=(p50, "s"),
            batch_call_cpu_p50_s=(_median(cpu), "s"),
            batch_call_max_s=(_tail(lat), "s"),
            batch_rows_per_s=(self.ROWS / p50, "rows/s"),
            batch_calls=(len(lat), "count"),
            input_rows=(self.ROWS, "count"),
            input_mb=(os.path.getsize(self.csv) / 1e6, "MB"),
        )
        if self.traced:
            self._probe_batch(p50, calls, last_out)
        shutil.rmtree(last_out, ignore_errors=True)

    def _probe_batch(self, call_s: float, calls: list[int], out: str) -> None:
        from pyspark.sql import functions as F

        from gcp_food_delivery_data_pipeline_spark.operators import clean
        from gcp_food_delivery_data_pipeline_spark.schema import OUT_COLS
        from gcp_food_delivery_data_pipeline_spark.sources import readers

        tracker = self.spark.sparkContext.statusTracker()
        jobs = tasks = 0
        for i in calls:
            for j in tracker.getJobIdsForGroup(f"perfbench-call-{i}"):
                jobs += 1
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else []:
                    st = tracker.getStageInfo(s)
                    tasks += st.numTasks if st else 0
        self.spark.sparkContext.setJobGroup("perfbench-probe", "probes")
        files, size = _dir_stats(out, ".parquet")
        spark, csv = self.spark, self.csv
        scan = _median([
            _timed(_noop, readers.read_orders_csv(spark, csv)) for _ in range(3)
        ])
        scan_clean = _median([
            _timed(_noop, clean.clean_orders(readers.read_orders_csv(spark, csv),
                                             drop_malformed=False))
            for _ in range(3)
        ])
        with self.tracer.span("clean.rows") as sp:
            row = clean.clean_orders(
                readers.read_orders_csv(spark, csv), drop_malformed=False
            ).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("is_short").cast("int")).alias("short"),
                # Reference every column: a scan pruned to fewer columns
                # does not flag short rows in the corrupt-record column
                # (and one reading that column alone is refused).
                F.max(F.length(F.concat_ws(",", *OUT_COLS))).alias("_w"),
            ).collect()[0]
            sp["counts"].update(rows_in=row["n"], rows_short=row["short"])
        self.op(
            (row["n"], row["short"]) == (self.oracle["total"], self.oracle["short"]),
            f"clean rows {row['n']}/{row['short']} != generator "
            f"{self.oracle['total']}/{self.oracle['short']}",
        )
        self.layer.update({
            "readers.csv_scan_s": scan,
            "clean.self_s": scan_clean - scan,
            "writers.self_s": call_s - scan_clean,
            "pipeline.call_s": call_s,
            "clean.rows_in": row["n"],
            "clean.rows_short": row["short"],
            "pipeline.jobs_per_call": jobs / max(1, len(calls)),
            "pipeline.tasks_per_call": tasks / max(1, len(calls)),
            "writers.files_written": files,
            "writers.bytes_per_input_byte": size / os.path.getsize(csv),
        })

    # -- stream --------------------------------------------------------------

    def _on_counts(self, batch_id: int, counts) -> None:
        t, c = time.time(), self.cpu()
        with self._cv:
            self.commits[batch_id] = (t, counts, c)
            self._cv.notify_all()

    def _land(self, i: int, due: float | None = None) -> None:
        """Land file ``i``; record (due time, landing time, CPU clock)."""
        staged = os.path.join(self.stage, f"f{i:04d}.csv")
        shutil.copyfile(self.files[i][0], staged)
        c = self.cpu()
        t = time.time()
        os.replace(staged, os.path.join(self.land, f"f{i:04d}.csv"))
        self.landed[i] = (t if due is None else due, t, c)

    def _wait_commits(self, n: int) -> None:
        deadline = time.time() + self.WAIT_S
        with self._cv:
            while len(self.commits) < n:
                left = deadline - time.time()
                if left <= 0 or not self.query.isActive:
                    raise RuntimeError(
                        f"stream committed {len(self.commits)} of {n} files: "
                        f"{self.query.exception()}"
                    )
                self._cv.wait(min(left, 1.0))

    def _arrivals(self, t0: float) -> None:
        for k in range(self.n_arr):
            due = t0 + k * self.INTERVAL_S
            time.sleep(max(0.0, due - time.time()))
            self._land(self.PRELUDE + k, due)
        time.sleep(max(0.0, t0 + self.n_arr * self.INTERVAL_S - time.time()))
        with self._cv:
            self.backlog_at_end = self.PRELUDE + self.n_arr - len(self.commits)

    def _run_stream(self) -> None:
        from gcp_food_delivery_data_pipeline_spark.streaming import stream

        base = self.run_dir
        self.land, self.stage = os.path.join(base, "land"), os.path.join(base, "stage")
        out, ckpt = os.path.join(base, "stream-out"), os.path.join(base, "ckpt")
        os.makedirs(self.land)
        os.makedirs(self.stage)
        self._cv = threading.Condition()
        self.commits: dict[int, tuple[float, object, float]] = {}
        self.landed: dict[int, tuple[float, float, float]] = {}
        self.backlog_at_end = 0
        tracker = self.spark.sparkContext.statusTracker()
        spans_before = len(self.tracer.spans) if self.tracer else 0

        self.query = stream.run_stream(
            self.spark, self.land, out, ckpt,
            trigger={"processingTime": "100 milliseconds"},
            max_files_per_trigger=1, on_counts=self._on_counts,
        )
        try:
            t = time.time()
            for i in range(self.PRELUDE):
                self._land(i, t)
            self._wait_commits(self.PRELUDE)
            # the stream runs its jobs under a job group named by its run id
            group = str(self.query.runId)
            jobs_before = set(tracker.getJobIdsForGroup(group))
            gen_thread = threading.Thread(target=self._arrivals, args=(time.time() + 0.5,))
            gen_thread.start()
            gen_thread.join(self.n_arr * self.INTERVAL_S + self.WAIT_S)
            first_backlog = self.PRELUDE + self.n_arr
            self._wait_commits(first_backlog)
            t_b = time.time()
            for i in range(first_backlog, len(self.files)):
                self._land(i, t_b)
            self._wait_commits(len(self.files))
            # let the last micro-batch finish its offset commit before stop()
            last_batch = max(self.commits)
            deadline = time.time() + 10
            while time.time() < deadline and (self.query.lastProgress or {}).get("batchId", -1) < last_batch:
                time.sleep(0.05)
            n_jobs = len(set(tracker.getJobIdsForGroup(group)) - jobs_before)
            progress = [p for p in self.query.recentProgress if p["numInputRows"] > 0]
        finally:
            self.query.stop()
        self._check_stream(out)
        self._stream_metrics(first_backlog, progress, n_jobs, out, ckpt, spans_before)

    def _check_stream(self, out: str) -> None:
        """Exactly-once: every file's rows sit in one batch_id partition
        of each table, with the oracle's count and content hash, and the
        batch that holds it reported the file's C1-C3."""
        by_date = {gen.stream_file_date(i): i for i in range(len(self.files))}
        self.file_batch: dict[int, int] = {}
        seen: dict[int, dict[str, dict]] = {}
        for table, key in (("delivered_orders", "delivered"), ("other_status_orders", "other")):
            for r in table_digests(self.spark, os.path.join(out, table), by=["date", "batch_id"]):
                i = by_date.get(r["date"])
                if i is None:
                    self.error(f"{table}: rows from no generated file (date {r['date']})")
                    continue
                if key in seen.setdefault(i, {}):
                    self.error(f"file {i}: rows in batches {seen[i][key]['batch_id']} and {r['batch_id']}")
                seen[i][key] = r
        for i, (_, oracle) in enumerate(self.files):
            got = seen.get(i, {})
            batches = {r["batch_id"] for r in got.values()}
            ok = len(batches) == 1
            if ok:
                b = batches.pop()
                self.file_batch[i] = b
                commit = self.commits.get(b)
                c = commit[1] if commit else None
                ok = c is not None and (c.total, c.delivered, c.other) == (
                    oracle["total"], oracle["delivered"], oracle["other"])
            for key in ("delivered", "other"):
                want = oracle["tables"][key]
                r = got.get(key, {"rows": 0, "h1": 0, "h2": 0})
                if want["rows"] or r["rows"]:
                    ok = ok and (r["rows"], r["h1"], r["h2"]) == (want["rows"], want["h1"], want["h2"])
            self.op(ok, f"file {i}: not delivered exactly once with the oracle's rows")
        total = sum(c.total for _, c, _ in self.commits.values())
        if total != sum(o["total"] for _, o in self.files):
            self.error(f"per-batch counts sum to {total}, generated {sum(o['total'] for _, o in self.files)}")

    def _stream_metrics(self, first_backlog, progress, n_jobs, out, ckpt, spans_before) -> None:
        def commit_of(i):
            b = self.file_batch.get(i)
            return self.commits[b][0] if b in self.commits else None

        arrivals = range(self.PRELUDE, first_backlog)
        lat = [commit_of(i) - self.landed[i][0] for i in arrivals if commit_of(i)]
        # CPU per file over the arrival phase, from the first file's landing
        # to the report of the last one's micro-batch: the batches, and the
        # trigger's polling in between at this arrival rate
        last = self.file_batch.get(first_backlog - 1)
        cpu_per_file = (
            (self.commits[last][2] - self.landed[self.PRELUDE][2]) / self.n_arr
            if last in self.commits else 0.0
        )
        # drain throughput from the median gap between consecutive backlog
        # commits: the first file's pick-up delay is left out, and one
        # slow micro-batch does not set the figure
        backlog_commits = sorted(
            c for c in map(commit_of, range(first_backlog, len(self.files))) if c)
        gap = _median([b - a for a, b in zip(backlog_commits, backlog_commits[1:])])
        rate = 1.0 / gap if gap > 0 else 0.0
        prelude = [commit_of(i) for i in range(self.PRELUDE) if commit_of(i)]
        cold = min(prelude) - self.landed[0][0] if prelude else 0.0
        p50 = _median(lat)
        self.e2e.update(item_cpu_s=cpu_per_file)
        self.detail.update(
            stream_file_cpu_s=(cpu_per_file, "s"),
            stream_latency_p50_s=(p50, "s"),
            stream_latency_p90_s=(_tail(lat), "s"),
            stream_latency_samples=(len(lat), "count"),
            stream_backlog_files=(self.backlog_at_end, "count"),
            stream_files_per_s=(rate, "files/s"),
            stream_cold_batch_s=(cold, "s"),
            arrival_interval_s=(self.INTERVAL_S, "s"),
        )
        if not self.traced:
            return
        prelude_batches = {self.file_batch.get(i) for i in range(self.PRELUDE)}
        measured = [p for p in progress if p["batchId"] not in prelude_batches]

        def dur(key):
            return _median([p["durationMs"].get(key, 0) / 1000.0 for p in measured])

        starts = {
            p["batchId"]: dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            for p in measured
        }
        waits = [
            starts[self.file_batch[i]] - self.landed[i][0]
            for i in arrivals if self.file_batch.get(i) in starts
        ]
        writes = self.tracer.durations("writers.write_status_table", since=spans_before)
        counts = self.tracer.durations("metrics.run_counts", since=spans_before)
        self.layer.update({
            "stream.batch_s_p50": dur("triggerExecution"),
            "stream.addBatch_s_p50": dur("addBatch"),
            "stream.latestOffset_s_p50": dur("latestOffset"),
            "stream.walCommit_s_p50": dur("walCommit"),
            "stream.commitOffsets_s_p50": dur("commitOffsets"),
            "stream.wait_s_p50": _median(waits),
            "stream.files_per_s": rate,
            "stream.jobs_per_batch": n_jobs / max(1, len(self.files) - self.PRELUDE),
            "stream.output_files": _dir_stats(out, ".parquet")[0],
            "stream.checkpoint_bytes": _dir_stats(ckpt)[1],
            "stream.generator_lag_s": max(
                (self.landed[i][1] - self.landed[i][0] for i in arrivals), default=0.0),
            "stream.backlog_files": self.backlog_at_end,
            # two status tables per micro-batch
            "writers.stream_write_s": 2 * _median(writes),
            "metrics.run_counts_s": _median(counts),
        })


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def near_dup_oracle(con) -> tuple[list[str], list[tuple]]:
    """The ``d_near_dup_pairs`` oracle without its all-pairs DuckDB join,
    which alone takes longer than the rest of a run at 500 documents.

    The same rule in plain Python: ``oracle_sql()`` splits a text on
    whitespace and takes the distinct word trigrams ``toks[i:i+2]`` for
    i = 1 .. max(n - 2, 1) (DuckDB slices are 1-based and inclusive), and a
    pair with a < b is kept when shared / union >= 0.8, i.e. when
    5 * shared >= 4 * union. DuckDB then rounds the kept ratios, so the
    values are the ones its own oracle gives.
    """
    shingles = []
    for doc_id, text in con.sql("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall():
        toks = [t for t in re.split(r"\s+", text.strip()) if t]
        shingles.append((doc_id, {" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))}))
    kept = []
    for x, (id_a, a) in enumerate(shingles):
        for id_b, b in shingles[x + 1:]:
            lo, hi = sorted((len(a), len(b)))
            if 5 * lo < 4 * hi:  # the Jaccard index is at most lo / hi
                continue
            shared = len(a & b)
            union = len(a) + len(b) - shared
            if 5 * shared >= 4 * union:
                kept.append((id_a, id_b, shared, union))
    if not kept:
        return ["id_a", "id_b", "jaccard"], []
    rel = con.sql(
        "SELECT id_a, id_b, round(CAST(shared AS DOUBLE) / n_union, 6) AS jaccard "
        "FROM (VALUES " + ", ".join(f"({a}, {b}, {s}, {u})" for a, b, s, u in kept)
        + ") AS t(id_a, id_b, shared, n_union)"
    )
    return list(rel.columns), rel.fetchall()


class QueryMix(Workload):
    """One client runs a fixed mix of analytics and training-data keys
    from ``__spark_entry__.queries()`` in a closed loop: one cold pass,
    then warm passes for ``--seconds``, at least ``MIN_WARM_PASSES``."""

    name = "query_mix"
    SCALE = 0.01
    MIN_WARM_PASSES = 1

    def wants_ui(self) -> bool:
        return self.traced

    def prepare(self) -> None:
        self.tables, names = gen.query_tables(self.cache_dir, self.seed, self.SCALE)
        meta = os.path.join(self.tables, "oracle.json")
        if os.path.exists(meta):
            with open(meta) as f:
                self.oracle = json.load(f)
            return
        import duckdb

        import __spark_entry__ as entry
        from tools.check_correctness import value_hash

        con = duckdb.connect()
        for t in names:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
        sql = entry.oracle_sql()
        self.oracle = {}
        for _, key in QUERY_KEYS:
            if key == "d_near_dup_pairs":
                cols, rows = near_dup_oracle(con)
            else:
                rel = con.sql(sql[key])
                cols, rows = list(rel.columns), rel.fetchall()
            self.oracle[key] = {"rows": len(rows), "cols": sorted(cols),
                                "hash": value_hash(rows, cols)}
        con.close()
        with open(meta + ".tmp", "w") as f:
            json.dump(self.oracle, f)
        os.replace(meta + ".tmp", meta)

    def imports(self) -> None:
        import __spark_entry__  # noqa: F401

    def _stages(self) -> list[dict]:
        """Completed stages, from the monitoring REST API."""
        sc = self.spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        url = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages?status=complete"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.load(resp)

    def _pass(self, queries, lat: dict[str, list[float]] | None,
              cpu: dict[str, list[float]] | None) -> tuple[float, float]:
        """Run every key once and check it; return the pass's wall time
        and CPU time, checks left out."""
        from tools.check_correctness import value_hash

        wall_s = cpu_s = 0.0
        for _, key in QUERY_KEYS:
            c = self.cpu()
            t = time.perf_counter()
            try:
                df = queries[key](self.spark, self.tables)
                rows = [tuple(r) for r in df.collect()]
            except Exception as ex:  # a failing query is a failed operation
                self.op(False, f"{key}: {type(ex).__name__}: {str(ex)[:200]}")
                continue
            dt_s = time.perf_counter() - t
            dc_s = self.cpu() - c
            wall_s += dt_s
            cpu_s += dc_s
            cols = df.columns
            want = self.oracle[key]
            ok = (len(rows) == want["rows"] and sorted(cols) == want["cols"]
                  and value_hash(rows, cols) == want["hash"])
            self.op(ok, f"{key}: result differs from the DuckDB oracle")
            if lat is not None:
                lat[key].append(dt_s)
                cpu[key].append(dc_s)
        return wall_s, cpu_s

    def run(self) -> None:
        import __spark_entry__ as entry

        queries = entry.queries()
        stages_before = {s["stageId"] for s in self._stages()} if self.traced else set()
        cold, cold_cpu = self._pass(queries, None, None)
        lat: dict[str, list[float]] = {k: [] for _, k in QUERY_KEYS}
        cpu: dict[str, list[float]] = {k: [] for _, k in QUERY_KEYS}
        warm: list[tuple[float, float]] = []
        t_end = time.perf_counter() + self.seconds
        while len(warm) < self.MIN_WARM_PASSES or time.perf_counter() < t_end:
            warm.append(self._pass(queries, lat, cpu))
        key_p50 = {k: _median(xs) for k, xs in lat.items() if xs}
        gm = _geomean(key_p50.values())
        gm_cpu = _geomean(_median(xs) for xs in cpu.values() if xs)
        warm_s = _median([w for w, _ in warm])
        warm_cpu = _median([c for _, c in warm])
        all_lat = [x for xs in lat.values() for x in xs]
        self.e2e.update(warm_cpu_s=warm_cpu, item_cpu_s=gm_cpu)
        self.detail.update(
            query_mix_cold_s=(cold, "s"),
            query_mix_cold_cpu_s=(cold_cpu, "s"),
            query_mix_warm_s=(warm_s, "s"),
            query_mix_warm_cpu_s=(warm_cpu, "s"),
            query_latency_gm_s=(gm, "s"),
            query_cpu_gm_s=(gm_cpu, "s"),
            query_p50_s=(_median(all_lat), "s"),
            query_max_s=(_tail(all_lat), "s"),
            warm_passes=(len(warm), "count"),
            query_keys=(len(QUERY_KEYS), "count"),
        )
        if self.traced:
            n_exec = len(QUERY_KEYS) * (1 + len(warm))
            new = [s for s in self._stages() if s["stageId"] not in stages_before]
            self.layer["analytics.tasks_per_query"] = sum(s["numTasks"] for s in new) / n_exec
            self.layer["analytics.shuffle_bytes"] = sum(s["shuffleWriteBytes"] for s in new) / n_exec
            for layer, key in QUERY_KEYS:
                self.layer[_key_metric(layer, key)] = key_p50.get(key, 0.0)
            self._probe()

    def _probe(self) -> None:
        from pyspark.sql import functions as F

        from gcp_food_delivery_data_pipeline_spark.operators import corpus, dedup, similarity, text
        from gcp_food_delivery_data_pipeline_spark.sources import readers

        spark, sf = self.spark, self.tables
        scan = 0.0
        for t in gen.TABLES:
            scan += _timed(_noop, readers.load_table(spark, sf, t))
        docs = readers.load_table(spark, sf, "documents")
        emb = readers.load_table(spark, sf, "embeddings")
        with self.tracer.span("dedup.lsh_probe") as sp:
            pairs = dedup.lsh_candidate_pairs(docs, "text", "doc_id", num_hashes=64, bands=32)
            t = time.perf_counter()
            n_cand = pairs.count()
            lsh_s = time.perf_counter() - t
            n_good = pairs.filter(F.col("jaccard") >= 0.8).count()
            sp["counts"].update(candidate_pairs=n_cand, pairs_jaccard_ge_08=n_good)
        self.layer.update({
            "readers.parquet_scan_s": scan,
            "dedup.lsh_pairs_s": lsh_s,
            "dedup.lsh_precision": n_good / n_cand if n_cand else 0.0,
            "corpus.chunk_s": _timed(
                _noop, corpus.chunk_documents(docs, chunk_tokens=64, overlap=8)),
            "similarity.topk_scalable_s": _timed(
                _noop, similarity.topk_exact_scalable(emb, emb.filter(F.col("vec_id") < 5), k=10)),
            "text.tfidf_s": _timed(
                _noop, text.tf_idf_top_terms(docs.select("doc_id", "text"), k=1)),
        })


WORKLOADS = {w.name: w for w in (Ingest, QueryMix)}
