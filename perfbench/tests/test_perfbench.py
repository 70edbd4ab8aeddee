"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/tests -q

- the metrics the benchmark prints are exactly the ones BENCHMARK.json names;
- the output checks reject a corrupted result, and a rejected check makes
  the printed result incorrect;
- the input generator is deterministic for a seed;
- the event-log fold charges Spark's work to the call that launched it.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run, workloads  # noqa: E402
from perfbench.trace import Spans, fold  # noqa: E402
from perfbench.workloads import Op, Record, Verdict  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _names(section: str) -> set[str]:
    return {m["name"] for m in SPEC[section]}


@pytest.fixture(scope="module")
def tables(tmp_path_factory) -> dict:
    out = str(tmp_path_factory.mktemp("tables"))
    return {"dir": out, "rows": gen.write_tables(out, seed=3, sf=0.001, n_docs=60, n_vecs=40)}


def _record(seq: int, kind: str, shape: str, result, latency: float = 0.5) -> Record:
    op = Op(kind, shape, act=lambda op, _: None, rows_in=100)
    rec = Record(op, seq, latency_s=latency, construct_s=0.1, result=result, first=seq < 2, duck_s=0.01)
    rec.start_ms, rec.build_end_ms, rec.end_ms = 1000.0 * seq, 1000.0 * seq + 100, 1000.0 * seq + 500
    return rec


def test_spec_meets_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert set(SPEC["workloads"][0]) == {"name", "why"}
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    names = [m["name"] for s in ("workloads", "end_to_end", "per_layer") for m in SPEC[s]]
    assert len(names) == len(set(names))
    assert set(workloads.WORKLOADS) == {w["name"] for w in SPEC["workloads"]}


def test_printed_metric_names_match_the_spec():
    import pandas as pd

    recs = [
        _record(0, "sql", "sql.filter", pd.DataFrame({"a": [1, 2]})),
        _record(1, "query", "simhash_near_dups", pd.DataFrame({"a": [1]})),
        _record(2, "meta", "meta.count", 7),
    ]
    fake = SimpleNamespace(
        rss=SimpleNamespace(peak_mb=900.0),
        generate_s=0.4,
        wl=workloads.InteractiveSql({"dir": ""}, "", 1),
    )
    setup = {"total": 2.0, "start": 1.0, "views": 0.5, "warm": 0.4, "repeat": 0.01}
    e2e = run.end_to_end(fake, setup, recs)
    assert set(e2e) == _names("end_to_end")
    assert all(v > 0 for v in e2e.values())
    folded = fold([], Spans([]))
    layer = run.per_layer(fake, setup, recs, folded, {}, 1.05, [0.2], fake.wl.layer_metrics(recs))
    assert set(layer) == _names("per_layer")
    for section, metrics in (("end_to_end", e2e), ("per_layer", layer)):
        units = {m["name"]: m["unit"] for m in SPEC[section]}
        line = json.loads(run.result(True, 3, 0, metrics, units))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == set(units)


def test_same_rows_tolerates_summation_order_only():
    import pandas as pd

    want = pd.DataFrame({"k": ["a", "b"], "total": [0.1 + 0.2, 3.0]})
    got = pd.DataFrame({"k": ["b", "a"], "total": [3.0, 0.3]})
    assert workloads.same_rows(got, want) is None
    got.loc[1, "total"] = 0.31
    assert "row" in workloads.same_rows(got, want)
    assert "rows" in workloads.same_rows(got.head(1), want)


def _checked(wl, op: Op, results: list) -> list[str]:
    recs = [Record(op, i, result=r) for i, r in enumerate(results)]
    for rec in recs:
        wl.expect(rec)
        assert rec.duck_s and rec.duck_s > 0
    return [v.status for v in wl.check(recs)]


def test_checker_rejects_a_corrupted_result(tables):
    wl = workloads.InteractiveSql(tables, "", 1)
    wl.start_checks()
    shape, table, sql = workloads._sql_templates(wl.rng(0), tables["rows"])[1]
    good = wl.duck.timed(sql.replace("$TABLE", table))[0].copy()
    bad = good.copy()
    bad.iloc[0, bad.columns.get_loc("n")] += 1
    op = Op("sql", shape, act=workloads.collect, info={"sql": sql, "table": table})
    assert _checked(wl, op, [good, bad]) == ["ok", "mismatch"]


def test_oracle_check_rejects_a_corrupted_result(tables):
    from delta_unity_duckdb_spark.workload import ORACLE

    wl = workloads.LlmCuration(tables, "", 1)
    wl.start_checks()
    good = wl.duck.timed(ORACLE["pricing_summary"])[0].copy()
    bad = good.copy()
    bad.iloc[0, 0] = "Z"
    op = Op("query", "pricing_summary", act=workloads.collect, info={"query": "pricing_summary"})
    assert _checked(wl, op, [good, bad]) == ["ok", "mismatch"]


def test_a_mismatch_makes_the_result_incorrect(tables):
    op = Op("query", "pricing_summary", act=workloads.collect, info={"query": "pricing_summary"})
    recs = [Record(op, 0, result=None), Record(op, 1, result=None)]
    stub = SimpleNamespace(wl=SimpleNamespace(check=lambda ok: [Verdict("ok"), Verdict("mismatch", "x")]))
    ok, failed = run.verify(stub, recs)
    assert failed == 1
    line = json.loads(run.result(failed == 0, len(recs), failed, {}, {}))
    assert line["correct"] is False and line["failed"] == 1


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_generator_is_deterministic(tmp_path, workload, monkeypatch):
    # Shrink the tables: determinism does not depend on size.
    real = gen.write_tables
    monkeypatch.setattr(
        gen, "write_tables", lambda d, s, sf, n_docs, n_vecs, **kw: real(d, s, 0.0005, 40, 30, **kw)
    )
    a = gen.workload_inputs(str(tmp_path / "a"), workload, 5)
    b = gen.workload_inputs(str(tmp_path / "b"), workload, 5)
    c = gen.workload_inputs(str(tmp_path / "c"), workload, 6)
    files = sorted(os.listdir(a["dir"]))
    assert files and files == sorted(os.listdir(b["dir"]))
    match, mismatch, errors = filecmp.cmpfiles(a["dir"], b["dir"], files, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a["dir"], c["dir"], files, shallow=False)
    assert differ
    if "batches" in a:
        for x, y in zip(a["batches"], b["batches"]):
            assert filecmp.cmp(x["path"], y["path"], shallow=False)


def test_fold_charges_jobs_to_the_call_that_launched_them():
    plan = {"nodeName": "MapInPandas", "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 7, "metricType": "timing"},
        {"name": "number of output rows", "accumulatorId": 8, "metricType": "sum"},
    ], "children": []}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 40, "Executor Deserialize Time": 5,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}},
         "Task Info": {"Accumulables": [{"ID": 7, "Update": 30}, {"ID": 8, "Update": 12}]}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1100, "Completion Time": 1400}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # No group (a stream's own thread): charged by submission time.
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2100, "Stage IDs": [1]},
    ]
    folded = fold(events, Spans([("a", 900, 1600), ("b", 2000, 3000)]))
    a = folded["a"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (1, 1, 1)
    assert a["job_wall_s"] == 0.5 and a["job_floor_s"] == 0.2
    assert (a["executor_run_ms"], a["task_deserialize_ms"], a["shuffle_write_bytes"]) == (40, 5, 100)
    assert (a["python_eval_ms"], a["python_rows"]) == (30, 12)
    assert folded["b"]["jobs"] == 1
