"""Measurement plumbing: launch settings, Spark event-log folding, ERROR
log attribution, process-tree peak RSS and a streaming progress listener.

A *span* is one timed phase of one benchmark call: ``(group, start_ms,
end_ms)``. The benchmark sets the Spark job group to ``group`` around the
call in the traced run, and the fold below charges every job, stage and
task to the span whose group launched it. Jobs without a group (for
example the micro-batches of a streaming query, which run on the stream's
own thread) fall back to the span whose interval holds their submission.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import shlex
from collections import defaultdict

PYTHON_TIME_METRIC = "time to run Python workers"

FOLD_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "job_wall_s",
    "job_floor_s",
    "executor_run_ms",
    "executor_cpu_ms",
    "gc_ms",
    "task_deserialize_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_eval_ms",
    "python_rows",
)


def submit_args(log_conf: str, log_file: str, tmp_dir: str, event_dir: str | None) -> str:
    """``PYSPARK_SUBMIT_ARGS`` for the driver JVM: logs to ``log_file``,
    temp files under ``tmp_dir`` and, only when ``event_dir`` is given, an
    uncompressed single-file event log there."""
    java_opts = " ".join(
        [
            f"-Dlog4j2.configurationFile=file:{log_conf}",
            f"-Dperfbench.log={log_file}",
            f"-Djava.io.tmpdir={tmp_dir}",
            "-XX:-UsePerfData",
        ]
    )
    confs = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file:{event_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    parts = ["--driver-java-options", shlex.quote(java_opts)]
    for k, v in confs.items():
        parts += ["--conf", shlex.quote(f"{k}={v}")]
    return " ".join(parts + ["pyspark-shell"])


# ------------------------------------------------------------ spans


class Spans:
    """Timed phases of benchmark calls, looked up by group or by time."""

    def __init__(self, spans: list[tuple[str, float, float]]):
        self.groups = {g for g, _, _ in spans}
        order = sorted(spans, key=lambda x: x[1])
        self._starts = [s for _, s, _ in order]
        self._order = order

    def at(self, t_ms: float) -> str | None:
        i = bisect.bisect_right(self._starts, t_ms) - 1
        if i >= 0:
            g, s, e = self._order[i]
            if s <= t_ms <= e:
                return g
        return None


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(event_dir: str) -> list[dict]:
    events: list[dict] = []
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        if os.path.isfile(path) and not path.endswith(".inprogress"):
            with open(path) as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _python_accumulators(events: list[dict]) -> tuple[set[int], set[int]]:
    """Accumulator ids of the Python-boundary SQL metrics: the worker run
    time and the output rows of every plan node that runs Python workers
    (pandas UDFs, ``mapInPandas``, grouped/cogrouped pandas and friends)."""
    time_ids: set[int] = set()
    row_ids: set[int] = set()

    def walk(node: dict) -> None:
        metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
        if PYTHON_TIME_METRIC in metrics:
            time_ids.add(metrics[PYTHON_TIME_METRIC])
            if "number of output rows" in metrics:
                row_ids.add(metrics["number of output rows"])
        for child in node.get("children", []):
            walk(child)

    for ev in events:
        if "sparkPlanInfo" in ev:
            walk(ev["sparkPlanInfo"])
    return time_ids, row_ids


def fold(events: list[dict], spans: Spans) -> dict[str, dict[str, float]]:
    """Fold Spark's job, stage and task events into per-span records."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FOLD_KEYS, 0.0))
    py_time, py_rows = _python_accumulators(events)
    stage_span: dict[int, str] = {}
    job_span: dict[int, str] = {}
    job_stages: dict[int, list[int]] = {}
    job_start: dict[int, float] = {}
    stage_iv: dict[int, tuple[float, float]] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            span = group if group in spans.groups else spans.at(ev["Submission Time"])
            if span is None:
                continue
            jid = ev["Job ID"]
            job_span[jid] = span
            job_start[jid] = ev["Submission Time"]
            job_stages[jid] = list(ev["Stage IDs"])
            for sid in ev["Stage IDs"]:
                stage_span[sid] = span
            out[span]["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_span:
                wall = ev["Completion Time"] - job_start[jid]
                run = _union_len([stage_iv[s] for s in job_stages[jid] if s in stage_iv])
                rec = out[job_span[jid]]
                rec["job_wall_s"] += wall / 1000.0
                rec["job_floor_s"] += max(0.0, wall - run) / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_span and "Submission Time" in info:
                stage_iv[sid] = (info["Submission Time"], info["Completion Time"])
                out[stage_span[sid]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            span = stage_span.get(ev["Stage ID"])
            if span is None:
                continue
            rec = out[span]
            rec["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            rec["executor_run_ms"] += m.get("Executor Run Time", 0)
            rec["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            rec["gc_ms"] += m.get("JVM GC Time", 0)
            rec["task_deserialize_ms"] += m.get("Executor Deserialize Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            rec["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                "Local Bytes Read", 0
            )
            rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                aid = acc.get("ID")
                if aid in py_time:
                    rec["python_eval_ms"] += float(acc.get("Update") or 0)
                elif aid in py_rows:
                    rec["python_rows"] += float(acc.get("Update") or 0)
    return dict(out)


# ------------------------------------------------------------ logs


def error_lines(log_file: str, spans: Spans) -> dict[str, int]:
    """ERROR lines of the driver log, keyed by the span live when each was
    written (``""`` when none was). The log layout starts every line with
    the epoch-millisecond timestamp and the level."""
    counts: dict[str, int] = defaultdict(int)
    if not os.path.exists(log_file):
        return counts
    with open(log_file, errors="replace") as fh:
        for line in fh:
            head = line.split(" ", 2)
            if len(head) >= 2 and head[1] == "ERROR" and head[0].isdigit():
                counts[spans.at(float(head[0])) or ""] += 1
    return dict(counts)


# ------------------------------------------------------------ memory


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class PeakRss:
    """Peak resident memory of the driver JVM plus its Python workers:
    the largest sum, over samples, of each live process's high-water mark."""

    def __init__(self) -> None:
        self.peak_kb = 0

    def sample(self, jvm_pid: int) -> None:
        total = sum(_status_kb(p, "VmHWM") for p in descendants(jvm_pid))
        self.peak_kb = max(self.peak_kb, total)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ------------------------------------------------------------ streaming


def progress_listener():
    """A ``StreamingQueryListener`` that records every micro-batch's
    trigger duration in seconds (in ``.batches``)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[float] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            ms = (event.progress.durationMs or {}).get("triggerExecution")
            if ms is not None and event.progress.numInputRows:
                self.batches.append(ms / 1000.0)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Listener()
