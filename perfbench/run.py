"""The repo benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed, sets up the engine once (cold session start with the driver JVM's
launch, fixture registration and a warm-up action: ``setup_s``), drives the
workload's closed loop for the whole cycles that measure ``--seconds`` of
operation time on a fast 4-core host, then checks every output against
DuckDB off the clock.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with Spark's event log on (launch-time conf, uncompressed) and a job
group around every call, folds the log into per-layer metrics, and
estimates the tracing overhead from the time the tracing itself took: the
job-group calls on the call path plus the event logger's work on the
listener bus.

The last line of standard output is the result object; all other output
goes to standard error. Everything the run writes lands in ``.perfbench/``
under the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPARK_CPUS = "4"
# The engine's default driver heap is half of physical RAM; a 2 GiB cap
# keeps a run small on a shared host.
DRIVER_MEM = "2g"


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quantile(xs, p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean of
    all order statistics. At the few dozen samples one run yields it is
    far steadier than the single order statistic a plain percentile picks,
    which jumps between operation shapes when their ranks swap."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2:
        return xs[0] if xs else 0.0
    a, b = p * (n + 1), (1 - p) * (n + 1)
    steps = 4000
    mid = (np.arange(steps) + 0.5) / steps
    log_pdf = (a - 1) * np.log(mid) + (b - 1) * np.log1p(-mid)
    pdf = np.exp(log_pdf - log_pdf.max())
    cdf = np.concatenate([[0.0], np.cumsum(pdf)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, np.linspace(0.0, 1.0, steps + 1), cdf)
    return float(np.dot(np.diff(edges), xs))


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Run:
    def __init__(self, args, work: str):
        from perfbench import trace, workloads

        self.args = args
        self.trace = trace
        self.work = work
        self.spans: list[tuple[str, float, float]] = []
        self.rss = trace.PeakRss()
        self.listener = None
        self.spark = None
        self.group_s = 0.0  # time spent setting job groups
        t0 = time.perf_counter()
        from perfbench.gen import workload_inputs

        inputs = workload_inputs(
            os.path.join(ROOT, ".perfbench", "inputs", f"{args.workload}-{args.seed}"),
            args.workload,
            args.seed,
        )
        self.generate_s = time.perf_counter() - t0
        self.wl = workloads.WORKLOADS[args.workload](inputs, work, args.seed)

    # ------------------------------------------------------------ set-up

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def set_group(self, group: str | None) -> None:
        if self.args.trace:
            t0 = time.perf_counter()
            sc = self.spark.sparkContext
            if group is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(group, group, False)
            self.group_s += time.perf_counter() - t0

    def event_log_s(self) -> float:
        """Time the session's event logger has spent on listener events
        (count times the mean of Spark's own timer for that listener)."""
        jvm = self.spark._jvm
        cls = jvm.java.lang.Class.forName("org.apache.spark.scheduler.EventLoggingListener")
        timer = self.spark.sparkContext._jsc.sc().listenerBus().metrics().getTimerForListenerClass(cls)
        if not timer.isDefined():
            return 0.0
        return timer.get().getCount() * timer.get().getSnapshot().getMean() / 1e9

    def setup(self) -> dict[str, float]:
        """Session start (launching the driver JVM) + fixture registration
        + warm-up, each timed."""
        from delta_unity_duckdb_spark.session import get_spark
        from delta_unity_duckdb_spark.sources.tables import TABLES, load_table, register_views

        t = [time.time()]
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}")
        self.wl.spark = self.spark
        t.append(time.time())
        self.set_group("setup:views")
        register_views(self.spark, self.wl.dir)
        t.append(time.time())
        self.set_group("setup:fixtures")
        self.wl.fixtures(self.spark)
        t.append(time.time())
        self.set_group("setup:warm")
        self.wl.warm(self.spark)
        t.append(time.time())
        self.set_group(None)
        for name, a, b in zip(("start", "views", "fixtures", "warm"), t, t[1:]):
            self.spans.append((f"setup:{name}", a * 1000, b * 1000))
        r0 = time.perf_counter()
        for name in TABLES:
            load_table(self.spark, self.wl.dir, name)
        repeat = time.perf_counter() - r0
        self.rss.sample(self.jvm_pid)
        return {
            "total": t[4] - t[0],
            "start": t[1] - t[0],
            "views": t[2] - t[1],
            "warm": t[4] - t[3],
            "repeat": repeat,
        }

    # ------------------------------------------------------------ loop

    def run_op(self, op, seq: int, seen: set):
        from perfbench.workloads import Record

        if op.prep:
            op.prep()
        rec = Record(op, seq, first=op.shape not in seen)
        seen.add(op.shape)
        rec.start_ms = time.time() * 1000
        t0 = time.perf_counter()
        try:
            self.set_group(rec.group + "#b")
            value = op.build(op) if op.build else None
            rec.construct_s = time.perf_counter() - t0
            rec.build_end_ms = time.time() * 1000
            self.set_group(rec.group + "#a")
            rec.result = op.act(op, value)
        except Exception:  # the loop keeps going; the failure is counted
            rec.error = traceback.format_exc(limit=3)
            log(f"op {rec.group} failed:\n{rec.error}")
        rec.latency_s = time.perf_counter() - t0
        rec.end_ms = time.time() * 1000
        if not rec.build_end_ms:
            rec.build_end_ms = rec.end_ms
        self.set_group(None)
        self.spans.append((rec.group + "#b", rec.start_ms, rec.build_end_ms))
        self.spans.append((rec.group + "#a", rec.build_end_ms, rec.end_ms))
        self.rss.sample(self.jvm_pid)
        return rec

    def loop(self, check: bool = True) -> list:
        """A fixed amount of work sized to --seconds: whole cycles, as many
        as measure at least --seconds on a fast 4-core host. Stopping on the
        clock instead would run one cycle on a slow host and two on a fast
        one, and the warm second cycle shifts every latency metric. With
        ``check``, DuckDB does the same work right after each call."""
        records, seen = [], set()
        for c in range(max(1, math.ceil(self.args.seconds / self.wl.cycle_s))):
            for op in self.wl.cycle(c):
                rec = self.run_op(op, len(records), seen)
                records.append(rec)
                if check and rec.error is None:
                    try:
                        self.wl.expect(rec)
                    except Exception:  # a check that cannot run counts as failed
                        rec.check_error = traceback.format_exc(limit=3)
        return records

    def stop(self) -> None:
        """Stop the session and the driver JVM, and wait for every process
        under it (the Python workers) to end."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        pids = self.trace.descendants(self.jvm_pid)
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)
        deadline = time.time() + 60
        for pid in pids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                try:
                    with open(f"/proc/{pid}/stat") as fh:
                        if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                            break
                except OSError:
                    break
                time.sleep(0.05)
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


# ------------------------------------------------------------ metrics


def end_to_end(run: Run, setup: dict, ok: list) -> dict[str, float]:
    lat = [r.latency_s for r in ok]
    pairs = [(r.latency_s, r.duck_s) for r in ok if r.duck_s]
    return {
        "setup_s": setup["total"],
        "query_p50_s": quantile(lat, 0.5),
        "query_p90_s": quantile(lat, 0.9),
        "first_query_p50_s": quantile([r.latency_s for r in ok if r.first], 0.5),
        "rows_per_s": sum(r.op.rows_in for r in ok) / max(sum(lat), 1e-9),
        "duckdb_ratio": math.exp(mean(math.log(s / d) for s, d in pairs)) if pairs else 0.0,
    }


def per_layer(run: Run, setup: dict, ok: list, folded: dict, errors: dict,
              overhead: float, stream_batches: list[float], write: dict) -> dict[str, float]:
    from perfbench.trace import FOLD_KEYS
    from perfbench.workloads import D4_ROWS

    def phases(r) -> dict[str, float]:
        b = folded.get(r.group + "#b", {})
        a = folded.get(r.group + "#a", {})
        return {k: b.get(k, 0.0) + a.get(k, 0.0) for k in FOLD_KEYS} | {
            "construct_jobs": b.get("jobs", 0.0),
            "act_job_wall_s": a.get("job_wall_s", 0.0),
        }

    per = {r.seq: phases(r) for r in ok}
    for r in ok:  # one record per call, for breakdowns the metrics aggregate away
        log("call " + json.dumps(
            {"group": r.group, "latency_s": round(r.latency_s, 4), "construct_s": round(r.construct_s, 4)}
            | {k: round(v, 4) for k, v in per[r.seq].items()}
        ))

    def lat(pred):
        return [r.latency_s for r in ok if pred(r)]

    def spark_mean(key: str) -> float:
        return mean(per[r.seq][key] for r in ok)

    collected = [r for r in ok if hasattr(r.result, "memory_usage")]
    queries = [r for r in ok if r.op.kind == "query"]
    m = {
        "session.start_s": setup["start"],
        "session.warm_s": setup["warm"],
        "tables.load_first_s": setup["views"],
        "tables.load_repeat_s": setup["repeat"],
        "scanner.construct_s": median(r.construct_s for r in ok if r.op.kind == "sql"),
        "scanner.sql_p50_s": median(lat(lambda r: r.op.kind == "sql")),
        "scanner.meta_p50_s": median(lat(lambda r: r.op.kind == "meta")),
        "workload.construct_s": median(r.construct_s for r in queries),
        "workload.construct_jobs": mean(per[r.seq]["construct_jobs"] for r in queries),
        "spark.jobs": spark_mean("jobs"),
        "spark.stages": spark_mean("stages"),
        "spark.tasks": spark_mean("tasks"),
        "spark.job_floor_s": spark_mean("job_floor_s"),
        "spark.executor_run_ms": spark_mean("executor_run_ms"),
        "spark.executor_cpu_ms": spark_mean("executor_cpu_ms"),
        "spark.gc_ms": spark_mean("gc_ms"),
        "spark.task_deserialize_ms": spark_mean("task_deserialize_ms"),
        "spark.shuffle_read_bytes": spark_mean("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": spark_mean("shuffle_write_bytes"),
        "spark.spill_bytes": spark_mean("spill_bytes"),
        "spark.python_eval_ms": spark_mean("python_eval_ms"),
        "spark.python_rows": spark_mean("python_rows"),
        "collect.s": mean(
            max(0.0, r.latency_s - r.construct_s - per[r.seq]["act_job_wall_s"]) for r in collected
        ),
        "collect.rows": mean(len(r.result) for r in collected),
        "collect.bytes": mean(int(r.result.memory_usage(deep=True).sum()) for r in collected),
        "streaming.batch_s": median(stream_batches),
        "streaming.batches": float(len(stream_batches)),
        "log.error_lines": float(sum(errors.values())),
        "trace.overhead_ratio": overhead,
        "inputs.generate_s": run.generate_s,
        "ops.count": float(len(ok)),
        "peak_rss_mb": run.rss.peak_mb,
    }
    m.update(write)
    for name in D4_ROWS:
        m[f"query.{name}_s"] = median(lat(lambda r, n=name: r.op.shape == n))
    return m


# ------------------------------------------------------------ main


def environment(work: str, trace_on: bool) -> None:
    """Settings for every process the run starts: engine knobs fixed for
    comparable runs, and all scratch space inside the run directory."""
    from perfbench import trace

    for sub in ("tmp", "local", "stream", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=SPARK_CPUS,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # bench.py's posture for sub-GiB inputs.
        SPARK_GRAFT_AQE="false",
        SPARK_GRAFT_SHUFFLE="16",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_STREAM_DIR=os.path.join(work, "stream"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=trace.submit_args(
            os.path.join(HERE, "log4j2.properties"),
            os.path.join(work, "driver.log"),
            os.path.join(work, "tmp"),
            os.path.join(work, "events") if trace_on else None,
        ),
    )


def result(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    )


def verify(run: Run, records: list) -> tuple[list, int]:
    """Checks, off the clock: (successful records, failures)."""
    ok = [r for r in records if r.error is None]
    for r in ok:
        if r.check_error:
            log(f"check of {r.group} could not run:\n{r.check_error}")
    checked = [r for r in ok if not r.check_error]
    verdicts = run.wl.check(checked)
    failed = len(records) - len(checked)
    for r, v in zip(checked, verdicts):
        if v.status == "mismatch":
            failed += 1
            log(f"mismatch {r.group}: {v.reason}")
    shapes: dict[str, list[float]] = {}
    for r in ok:
        shapes.setdefault(r.op.shape, []).append(r.latency_s)
    log("latency by shape (n, median s, first s): " + json.dumps(
        {k: [len(v), round(median(v), 3), round(v[0], 3)] for k, v in sorted(shapes.items())}
    ))
    unchecked = sorted({r.op.shape for r, v in zip(checked, verdicts) if v.status == "unchecked"})
    if unchecked:
        log(f"unchecked shapes: {unchecked}")
    return ok, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: the repo benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    sys.path.insert(0, ROOT)
    import delta_unity_duckdb_spark  # noqa: F401  the program under test must be present

    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    environment(work, bool(args.trace))
    t0 = time.time()
    run = Run(args, work)
    try:
        setup = run.setup()
        t_setup = time.time()
        if args.trace:
            run.listener = run.trace.progress_listener()
            run.spark.streams.addListener(run.listener)
        run.wl.start_checks()
        run.group_s = 0.0
        records = run.loop()
        t_loop = time.time()
        ok, failed = verify(run, records)
        log(f"phases (s): inputs+setups {t_setup - t0:.1f}, loop {t_loop - t_setup:.1f}, "
            f"checks {time.time() - t_loop:.1f}")
        attempted = len(records)
        if not args.trace:
            metrics = end_to_end(run, setup, ok)
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        else:
            write = run.wl.layer_metrics(records)
            time.sleep(1.0)  # let the listener bus drain the last progress events
            batches = list(run.listener.batches)
            # An estimate: as if all tracing work had delayed the calls.
            # Work tracing adds off the call path (listener-thread CPU
            # competing with tasks, GC from event serialisation) is not in it.
            busy = sum(r.latency_s for r in records)
            tracing = run.group_s + run.event_log_s()
            overhead = busy / max(busy - tracing, 1e-9)
            spans = run.trace.Spans(run.spans)
            run.stop()  # completes the event log
            folded = run.trace.fold(run.trace.read_event_log(os.path.join(work, "events")), spans)
            errors = run.trace.error_lines(os.path.join(work, "driver.log"), spans)
            if errors:
                log(f"ERROR log lines by call: {errors}")
            metrics = per_layer(run, setup, ok, folded, errors, overhead, batches, write)
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    finally:
        run.stop()
    shutil.rmtree(work, ignore_errors=True)
    log(json.dumps({k: round(v, 4) for k, v in metrics.items()}))
    print(result(failed == 0, attempted, failed, metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
