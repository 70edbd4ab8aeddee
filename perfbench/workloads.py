"""The benchmark's three workloads: seeded operation streams and their checks.

Each workload is a closed loop with one client: the next operation starts
when the previous one has returned. Operations come in *cycles*; a cycle
holds every operation shape of the workload in a fixed order, with seeded
literals and inputs, and a run executes whole cycles, so every run
measures the same mix of shapes.

An operation has an optional *build* phase (constructing the lazy
DataFrame: planning, plus any eager probe jobs the engine runs) and an
*act* phase (executing and collecting it, or performing a write). Both
are timed. Right after each call DuckDB does the same work (timed, off
the clock); the comparison of the two answers runs after the loop.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.gen import PRIORITIES, SEGMENTS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ROADMAP D4 rows (per-query per-layer metrics) and the rest of the LLM
# curation family the llm_curation workload runs. No D4 row crosses the
# Python worker boundary; ``similarity_topk_ivf`` (one ``mapInPandas``
# pass) is the row that does.
D4_ROWS = (
    "simhash_near_dups",
    "minhash_near_dups",
    "near_dup_clusters",
    "winnow_fingerprint_pairs",
    "dedup_pipeline_exact_first",
    "token_budget_mixture",
    "hybrid_rrf_fusion",
    "leakage_safe_split",
    "llm_pipeline_end_to_end",
)
LLM_ROWS = D4_ROWS + ("bm25_topk", "similarity_topk_ivf", "tfidf_top_terms", "corpus_curation")

# Relational and TPC-H-shape rows of the bench.py headline, with the
# fixture tables each one scans (a CTE that reads a table twice counts it
# twice).
SQL_ROWS = {
    "topk_group_count": ("lineitem",),
    "pricing_summary": ("lineitem",),
    "multiway_join_topk": ("customer", "orders", "lineitem"),
    "window_rank": ("orders",),
    "join_inner": ("customer", "orders"),
    "cte_subquery": ("orders", "customer", "orders"),
    "large_volume_orders": ("lineitem", "orders", "customer"),
    "nation_volume_shipping": ("lineitem", "orders", "customer", "supplier", "nation"),
}

ORDERS_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)
SCD_KEYS = ["o_orderkey"]
SCD_TRACKED = ["o_orderstatus", "o_totalprice", "o_orderpriority"]
SCD_COLS = ", ".join(SCD_KEYS + SCD_TRACKED)


@dataclass
class Op:
    """One timed call of the closed loop."""

    kind: str  # layer the call enters: sql, meta, query, merge, read, ...
    shape: str  # distinct shape, for first-execution latency
    act: Callable[[Op, Any], Any]  # gets the op and build's value
    build: Callable[[Op], Any] | None = None
    prep: Callable[[], None] | None = None  # untimed, before the timer
    rows_in: int = 0
    info: dict = field(default_factory=dict)


@dataclass
class Record:
    op: Op
    seq: int
    start_ms: float = 0.0  # epoch ms, for matching Spark events
    build_end_ms: float = 0.0
    end_ms: float = 0.0
    latency_s: float = 0.0
    construct_s: float = 0.0
    result: Any = None
    error: str | None = None
    first: bool = False
    expected: Any = None  # what DuckDB says the result should be
    duck_s: float | None = None  # DuckDB latency of the same work
    check_error: str | None = None

    @property
    def group(self) -> str:
        return f"pb{self.seq:05d}:{self.op.shape}"


@dataclass
class Verdict:
    status: str  # "ok", "mismatch" or "unchecked"
    reason: str = ""


def verdict(why: str | None) -> Verdict:
    return Verdict("mismatch", why) if why else Verdict("ok")


# ------------------------------------------------------------ comparisons


def _cell(v: Any) -> Any:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (pd.Timestamp, np.datetime64)) or hasattr(v, "isoformat"):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, np.integer, np.floating)):
        return float(v)
    return str(v)


def _sort_key(row: tuple) -> tuple:
    return tuple(
        (0, "") if c is None else (1, f"{c:.6g}") if isinstance(c, float) else (2, str(c))
        for c in row
    )


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive comparison of two result frames; numbers compare
    with a relative tolerance, because a sum of doubles depends on the
    order the engine adds them in. Returns why they differ, or None."""
    gc = [c.lower() for c in got.columns]
    wc = [c.lower() for c in want.columns]
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g = sorted((tuple(_cell(v) for v in r) for r in got.itertuples(index=False)), key=_sort_key)
    w = sorted((tuple(_cell(v) for v in r) for r in want.itertuples(index=False)), key=_sort_key)
    for a, b in zip(g, w):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return f"row {a} != {b}"
            elif x != y:
                return f"row {a} != {b}"
    return None


class _Collected:
    """A collected result in the shape ``strict_compare`` reads."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


class _DuckResult:
    """A DuckDB connection stand-in that returns an answer already computed."""

    def __init__(self, pdf: pd.DataFrame):
        self._pdf = pdf

    def execute(self, _sql: str) -> _DuckResult:
        return self

    def df(self) -> pd.DataFrame:
        return self._pdf


def _harness():
    tests = os.path.join(ROOT, "tests")
    if tests not in sys.path:
        sys.path.insert(0, tests)
    import oracle_harness

    return oracle_harness


class Duck:
    """DuckDB over the same generated parquet files; each distinct query is
    answered and timed once per run."""

    def __init__(self, tables_dir: str):
        self.con = _harness().duck_connection(tables_dir)
        self._cache: dict[str, tuple[pd.DataFrame, float]] = {}

    def timed(self, sql: str) -> tuple[pd.DataFrame, float]:
        """Result and latency of a query: the fastest of up to five runs
        (fewer once a query has taken a fifth of a second in all). DuckDB
        answers these in milliseconds, where one run is mostly noise."""
        if sql not in self._cache:
            times: list[float] = []
            while len(times) < 5 and sum(times) < 0.2:
                t0 = time.perf_counter()
                pdf = self.con.execute(sql).df()
                times.append(time.perf_counter() - t0)
            self._cache[sql] = (pdf, min(times))
        return self._cache[sql]

    def apply_timed(self, *stmts: str) -> float:
        """Apply statements as one transaction; the latency is the fastest
        of five runs, the first four rolled back."""
        times = []
        for i in range(5):
            self.con.execute("BEGIN TRANSACTION")
            t0 = time.perf_counter()
            for sql in stmts:
                self.con.execute(sql)
            times.append(time.perf_counter() - t0)
            self.con.execute("COMMIT" if i == 4 else "ROLLBACK")
        return min(times)


def expect_oracle(duck: Duck, rec: Record) -> None:
    """Run the row's registered DuckDB oracle; replay oracles (``ORACLE_KIND``)
    do not do the same work, so they get no DuckDB latency."""
    from delta_unity_duckdb_spark.workload import ORACLE
    from delta_unity_duckdb_spark.workload.registry import ORACLE_KIND

    name = rec.op.info["query"]
    if name in ORACLE:
        rec.expected, dt = duck.timed(ORACLE[name])
        rec.duck_s = None if name in ORACLE_KIND else dt


def check_oracle(rec: Record) -> Verdict:
    """The oracle's answer through the strict, type-sensitive comparison of
    tests/oracle_harness.py."""
    if rec.expected is None:
        return Verdict("unchecked", "no oracle")
    res = _harness().strict_compare(_Collected(rec.result), _DuckResult(rec.expected), "")
    if res["hash_match"] and not res["violations"]:
        return Verdict("ok")
    detail = {k: res[k] for k in ("spark_rows", "duck_rows", "violations", "diff_sample") if k in res}
    return Verdict("mismatch", f"oracle: {detail}")


def collect(_op: Op, df) -> pd.DataFrame:
    return df.toPandas()


# ------------------------------------------------------------ workloads


class Workload:
    name = ""
    # Operation time of one cycle at the fast end of a 4-core host: a run
    # of --seconds executes ceil(seconds / cycle_s) whole cycles.
    cycle_s = 10.0

    def __init__(self, inputs: dict, work_dir: str, seed: int):
        self.inputs = inputs
        self.dir = inputs["dir"]
        self.work = work_dir
        self.seed = seed
        self.spark = None
        self.duck: Duck | None = None

    def rng(self, cycle: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, cycle])

    def fixtures(self, spark) -> None:
        """Workload fixtures beyond the registered tables, built during
        set-up (timed as part of it)."""

    def layer_metrics(self, records: list[Record]) -> dict[str, float]:
        """Per-layer metrics of the write path (zero where a workload
        does not write)."""
        return dict.fromkeys(WRITE_LAYER_METRICS, 0.0)

    def warm(self, spark) -> None:
        """The warm-up bench.py uses: one trivial action."""
        from delta_unity_duckdb_spark.workload import QUERIES

        QUERIES["count_star"](spark, self.dir).toPandas()

    def cycle(self, c: int) -> list[Op]:
        raise NotImplementedError

    def start_checks(self) -> None:
        """Open DuckDB over the inputs, before the loop."""
        self.duck = Duck(self.dir)

    def expect(self, rec: Record) -> None:
        """Right after a successful call, off the clock: the answer DuckDB
        gives for the same work (``rec.expected``) and its latency
        (``rec.duck_s``), measured while the host is in the same state."""
        raise NotImplementedError

    def check(self, records: list[Record]) -> list[Verdict]:
        """One verdict per record, in order; run after the timed loop."""
        raise NotImplementedError

    def query_op(self, name: str, rows_in: int) -> Op:
        from delta_unity_duckdb_spark.workload import QUERIES

        return Op(
            "query",
            name,
            build=lambda op: QUERIES[name](self.spark, self.dir),
            act=collect,
            rows_in=rows_in,
            info={"query": name},
        )


def _sql_templates(r: np.random.Generator, rows: dict) -> list[tuple[str, str, str]]:
    """The interactive ``$TABLE`` templates with seeded literals, as
    (shape, table, SQL). The SQL is plain ANSI, so the same text runs on
    DuckDB, and every ORDER BY is total, so a LIMIT keeps the same rows."""
    lo = int(r.integers(1000, 400000))
    cust = int(r.integers(0, rows["customer"] - 40))
    user = int(r.integers(0, max(1, rows["customer"] // 10 - 30)))
    return [
        (
            "filter",
            "orders",
            "SELECT o_orderkey, o_custkey, o_totalprice FROM $TABLE "
            f"WHERE o_totalprice BETWEEN {lo} AND {lo + int(r.integers(20000, 100000))} "
            f"AND o_orderpriority = '{PRIORITIES[r.integers(0, 5)]}' "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 50",
        ),
        (
            "group_by",
            "lineitem",
            "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
            "avg(l_discount) AS avg_disc FROM $TABLE "
            f"WHERE l_shipdate < TIMESTAMP '{int(r.integers(1995, 2002))}-"
            f"{int(r.integers(1, 13)):02d}-01' "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        ),
        (
            "top_k",
            "customer",
            "SELECT c_custkey, c_name, c_acctbal FROM $TABLE "
            f"WHERE c_mktsegment = '{SEGMENTS[r.integers(0, 5)]}' "
            f"AND c_acctbal > {int(r.integers(-1000, 8000))} "
            f"ORDER BY c_acctbal DESC, c_custkey LIMIT {int(r.integers(5, 50))}",
        ),
        (
            "self_join",
            "orders",
            "SELECT a.o_custkey AS cust, count(*) AS pairs FROM $TABLE a JOIN $TABLE b "
            "ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey "
            f"WHERE a.o_orderdate >= TIMESTAMP '{int(r.integers(1995, 2001))}-01-01' "
            "GROUP BY a.o_custkey ORDER BY pairs DESC, cust LIMIT 20",
        ),
        (
            "window",
            "orders",
            "SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (SELECT o_custkey, "
            "o_orderkey, o_totalprice, rank() OVER (PARTITION BY o_custkey ORDER BY "
            "o_totalprice DESC, o_orderkey) AS rnk FROM $TABLE "
            f"WHERE o_custkey BETWEEN {cust} AND {cust + 40}) t "
            "WHERE rnk <= 3 ORDER BY o_custkey, rnk",
        ),
        (
            "events",
            "events",
            "SELECT event_type, count(*) AS n, sum(value) AS total FROM $TABLE "
            f"WHERE user_id BETWEEN {user} AND {user + 30} "
            f"AND ts >= TIMESTAMP '2024-01-{int(r.integers(1, 29)):02d} 00:00:00' "
            "GROUP BY event_type ORDER BY event_type",
        ),
    ]


class InteractiveSql(Workload):
    """An analyst's session: ``Scanner.query`` over ``$TABLE`` templates,
    metadata calls, and registered relational rows, one at a time."""

    name = "interactive_sql"

    def cycle(self, c: int) -> list[Op]:
        """Each template four times with seeded literals, the metadata
        calls and every relational row, interleaved in a fixed order: the
        one-time costs of a fresh session (first code generation, first
        broadcast) then land on the same calls in every run. Four rounds
        keep one cycle above a 10 s run on a fast host, so a run does not
        flip between one cycle and two (a warm second cycle)."""
        from delta_unity_duckdb_spark.scanner import Scanner
        from delta_unity_duckdb_spark.sources.catalog import list_tables

        r = self.rng(c)
        rows = self.inputs["rows"]

        def sql_ops() -> list[Op]:
            return [
                Op(
                    "sql",
                    f"sql.{shape}",
                    build=lambda op: Scanner(self.spark, self.dir).query(
                        op.info["table"], op.info["sql"]
                    ),
                    act=collect,
                    rows_in=rows[table] * text.count("$TABLE"),
                    info={"sql": text, "table": table},
                )
                for shape, table, text in _sql_templates(r, rows)
            ]

        t_count = str(r.choice(["orders", "lineitem", "customer", "events"]))
        t_schema = str(r.choice(["orders", "lineitem", "part", "documents"]))
        count = Op(
            "meta",
            "meta.count",
            act=lambda op, _: Scanner(self.spark, self.dir).count(op.info["table"]),
            rows_in=rows[t_count],
            info={"table": t_count},
        )
        schema = Op(
            "meta",
            "meta.schema",
            act=lambda op, _: Scanner(self.spark, self.dir).schema(op.info["table"]),
            info={"table": t_schema},
        )
        catalog = Op("meta", "meta.catalog", act=lambda op, _: list_tables(self.spark, self.dir))
        queries = [self.query_op(n, sum(rows[t] for t in ts)) for n, ts in SQL_ROWS.items()]
        half = len(queries) // 2
        return (
            sql_ops() + [count] + queries[:half] + sql_ops() + [schema] + queries[half:]
            + sql_ops() + [catalog] + sql_ops()
        )

    def expect(self, rec: Record) -> None:
        from delta_unity_duckdb_spark.sources.tables import TABLES

        op = rec.op
        if op.kind == "sql":
            rec.expected, rec.duck_s = self.duck.timed(op.info["sql"].replace("$TABLE", op.info["table"]))
        elif op.kind == "query":
            expect_oracle(self.duck, rec)
        elif op.shape == "meta.count":
            pdf, rec.duck_s = self.duck.timed(f"SELECT count(*) AS n FROM {op.info['table']}")
            rec.expected = int(pdf["n"][0])
        elif op.shape == "meta.schema":
            rec.expected = pq.read_schema(os.path.join(self.dir, f"{op.info['table']}.parquet")).names
        else:
            rec.expected = set(TABLES)

    def check(self, records: list[Record]) -> list[Verdict]:
        out = []
        for rec in records:
            op, res, want = rec.op, rec.result, rec.expected
            if op.kind == "sql":
                out.append(verdict(same_rows(res, want)))
            elif op.kind == "query":
                out.append(check_oracle(rec))
            elif op.shape == "meta.count":
                ok = res == want == self.inputs["rows"][op.info["table"]]
                out.append(verdict(None if ok else f"count {res} != {want}"))
            elif op.shape == "meta.schema":
                got = [c["column_name"] for c in res]
                out.append(verdict(None if got == want else f"schema {got}"))
            else:
                base = {t["table_name"] for t in res if t["table_type"] == "BASE TABLE"}
                out.append(verdict(None if base == want else f"catalog {sorted(base)}"))
        return out


class LlmCuration(Workload):
    """LLM-data curation: near-duplicate detection, retrieval and mixture
    rows over a seeded corpus with a seeded near-duplicate share, in a
    fixed order."""

    name = "llm_curation"
    cycle_s = 15.0

    def cycle(self, c: int) -> list[Op]:
        # A fixed order: the one-time costs of a fresh session (Python
        # worker start, first code generation) then land on the same rows
        # in every run instead of on whichever row a seed puts first.
        rows = self.inputs["rows"]
        return [
            self.query_op(n, rows["embeddings" if n == "similarity_topk_ivf" else "documents"])
            for n in LLM_ROWS
        ]

    def expect(self, rec: Record) -> None:
        expect_oracle(self.duck, rec)

    def check(self, records: list[Record]) -> list[Verdict]:
        return [check_oracle(rec) for rec in records]


def _where(rng: list[tuple[str, str, int]]) -> str:
    return " AND ".join(f"{c} {o} {v}" for c, o, v in rng)


def _status_agg_sql(source: str, where: str = "") -> str:
    return (
        "SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS total "
        f"FROM {source} {where} GROUP BY o_orderstatus"
    )


class DeltaScd2Sync(Workload):
    """A sync pipeline: seeded change batches merged into a Delta table
    built from ``orders``, with maintenance commits, reads between
    commits, and the same batches synced into an SCD Type 2 dimension both
    as a batch job and as a micro-batch stream."""

    name = "delta_scd2_sync"
    cycle_s = 12.0
    batches_per_cycle = 2
    read_sql = (
        "SELECT c.c_mktsegment AS seg, o_orderstatus AS status, count(*) AS n, "
        "sum(o_totalprice) AS total FROM $TABLE JOIN customer c ON o_custkey = c.c_custkey "
        "GROUP BY c.c_mktsegment, o_orderstatus"
    )

    def __init__(self, inputs: dict, work_dir: str, seed: int):
        super().__init__(inputs, work_dir, seed)
        self.batches = inputs["batches"]
        self.table = self.scd = ""
        self.versions: list[int] = []
        self.appends: list[tuple[int, int]] = []  # (version, batch) of append-only commits
        self.max_key = 0
        self.bytes_at_start = 0
        self.final_user_bytes = 0
        self.scd_rows = 0

    def fixtures(self, spark) -> None:
        """The Delta table, built from ``orders`` as eight key-clustered
        files. The SCD2 dimension starts empty; the first sync creates it."""
        from delta_unity_duckdb_spark.sources.delta_log import write_delta
        from delta_unity_duckdb_spark.sources.tables import load_table

        self.table = os.path.join(self.work, "delta_orders")
        self.scd = os.path.join(self.work, "scd_orders")
        orders = load_table(spark, self.dir, "orders")
        self.versions = [write_delta(orders.repartitionByRange(8, "o_orderkey"), self.table)]
        self.appends = []
        self.max_key = self.inputs["rows"]["orders"]
        self.bytes_at_start = _dir_bytes(self.table)

    def _recent_keys(self, frac: float, span: int) -> list[tuple[str, str, int]]:
        lo = int(self.max_key * (0.75 + 0.25 * frac)) - span
        return [("o_orderkey", ">=", lo), ("o_orderkey", "<", lo + span)]

    def _commit(self, kind: str, fn: Callable[[Op], dict], rows_in: int = 0, **info) -> Op:
        def act(op: Op, _):
            res = fn(op)
            if res["version"] != self.versions[-1]:
                self.versions.append(res["version"])
            return res

        return Op(kind, kind, act=act, rows_in=rows_in, info=info)

    def cycle(self, c: int) -> list[Op]:
        from pyspark.sql import functions as F

        from delta_unity_duckdb_spark.operators.scd2 import sync_scd2
        from delta_unity_duckdb_spark.scanner import Scanner
        from delta_unity_duckdb_spark.sources import delta_log as dl

        spark = self.spark
        r = self.rng(c)
        idx = [self.batches_per_cycle * c + i for i in range(self.batches_per_cycle)]
        if idx[-1] >= len(self.batches):
            raise RuntimeError("ran out of generated change batches")

        def status_agg(df):
            return df.groupBy("o_orderstatus").agg(
                F.count("*").alias("n"), F.sum("o_totalprice").alias("total")
            )

        def merge(op: Op) -> dict:
            meta = self.batches[op.info["batch"]]
            res = dl.merge_delta(spark.read.parquet(meta["path"]), self.table, SCD_KEYS)
            if meta["insert_only"]:
                self.appends.append((res["version"], op.info["batch"]))
            self.max_key += meta["rows"] - meta["updates"]
            return res

        def scd2(op: Op, _) -> dict:
            b = op.info["batch"]
            src = spark.read.parquet(self.batches[b]["path"])
            return sync_scd2(spark, src, self.scd, SCD_KEYS, SCD_TRACKED, F.lit(_batch_ts(b)))

        # A fixed order (seeded batches and literals only): every merge is
        # followed by its SCD2 sync, then maintenance and the reads.
        head: list[Op] = []
        for b in idx:
            head.append(self._commit("merge", merge, self.batches[b]["rows"], batch=b))
            head.append(Op("scd2", "scd2.sync", act=scd2, rows_in=self.batches[b]["rows"], info={"batch": b}))

        fracs = r.random(4)
        spans = r.integers(50, 400, 2)

        def update(op: Op) -> dict:
            op.info["range"] = self._recent_keys(fracs[0], int(spans[0]))
            return dl.update_delta(spark, self.table, op.info["range"], {"o_orderpriority": "1-URGENT"})

        def delete(op: Op) -> dict:
            op.info["range"] = self._recent_keys(fracs[1], int(spans[1]))
            return dl.delete_delta(spark, self.table, op.info["range"])

        def optimize(op: Op) -> dict:
            return dl.optimize_delta(spark, self.table, target_file_bytes=128 * 1024, sort_by=SCD_KEYS)

        def read(shape: str, build, kind: str = "read") -> Op:
            def stamped(op: Op):
                op.info["version"] = self.versions[-1]
                return build(op)

            return Op(kind, shape, build=stamped, act=collect)

        def time_travel(op: Op):
            v = self.versions[int(fracs[2] * (len(self.versions) - 1))]
            op.info["version"] = v
            return status_agg(dl.read_delta(spark, self.table, version=v))

        def skipping(op: Op):
            op.info["range"] = self._recent_keys(fracs[3], 2000)
            return status_agg(dl.read_delta(spark, self.table, skip_filters=op.info["range"]))

        def changes(op: Op):
            v, b = self.appends[-1]
            op.info.update(version=v, batch=b)
            return dl.read_delta_changes(spark, self.table, v - 1, v).select(*ORDERS_COLS)

        def snapshot(op: Op, _) -> int:
            op.info["version"] = self.versions[-1]
            return dl.snapshot(spark, self.table).version

        tail = [
            self._commit("update", update),
            self._commit("delete", delete),
            self._commit("optimize", optimize),
            Op("checkpoint", "checkpoint", act=lambda op, _: dl.write_checkpoint(spark, self.table)),
            read(
                "read.latest",
                lambda op: Scanner(spark, self.dir).query(self.table, self.read_sql),
                kind="sql",
            ),
            read("read.time_travel", time_travel),
            read("read.skip_filters", skipping),
            read("read.changes", changes),
            Op("meta", "meta.snapshot", act=snapshot),
            self._stream_op(c, idx),
        ]
        return head + tail

    def _stream_op(self, c: int, idx: list[int]) -> Op:
        """``scd2_stream_sync`` over the cycle's batches staged as a feed
        directory, one parquet file (one micro-batch) per batch."""
        from pyspark.sql import functions as F

        from delta_unity_duckdb_spark.streaming.events import (
            read_events_stream_from_dir,
            scd2_stream_sync,
        )

        feed = os.path.join(self.work, f"feed_{c}")

        def prep() -> None:
            shutil.rmtree(feed, ignore_errors=True)
            os.makedirs(feed)
            now = time.time()
            for j, b in enumerate(idx):
                t = pq.read_table(self.batches[b]["path"])
                ts = pa.array([_batch_ts(b)] * t.num_rows, pa.timestamp("us"))
                path = os.path.join(feed, f"part_{j:03d}.parquet")
                pq.write_table(t.append_column("batch_ts", ts), path)
                os.utime(path, (now - 100 + j, now - 100 + j))

        def build(op: Op):
            schema = self.spark.read.parquet(feed).schema
            stream = read_events_stream_from_dir(self.spark, feed, schema, 1)
            return scd2_stream_sync(stream, SCD_KEYS, SCD_TRACKED, ts_col="batch_ts")

        def act(op: Op, state):
            cur = state.filter(F.col("is_current")).select(*SCD_KEYS, *SCD_TRACKED)
            return state, cur.toPandas()

        return Op(
            "stream",
            "scd2.stream",
            act=act,
            build=build,
            prep=prep,
            rows_in=sum(self.batches[b]["rows"] for b in idx),
            info={"batches": idx},
        )

    # -------------------------------------------------------- checks

    def start_checks(self) -> None:
        """DuckDB replays every commit right after Spark makes it: ``cur``
        is the table, ``v<N>`` its state at version N, ``scd`` the current
        rows of the SCD2 dimension."""
        super().start_checks()
        orders = f"read_parquet('{os.path.join(self.dir, 'orders.parquet')}')"
        con = self.duck.con
        con.execute(f"CREATE TABLE cur AS SELECT * FROM {orders}")
        con.execute(f"CREATE TABLE v{self.versions[0]} AS SELECT * FROM cur")
        con.execute(f"CREATE TABLE scd AS SELECT {SCD_COLS} FROM {orders} WHERE false")
        self.scd_rows = 0

    def expect(self, rec: Record) -> None:
        op, res, info = rec.op, rec.result, rec.op.info
        duck, con = self.duck, self.duck.con
        if op.kind == "merge":
            src = f"read_parquet('{self.batches[info['batch']]['path']}')"
            rec.duck_s = duck.apply_timed(
                f"DELETE FROM cur WHERE o_orderkey IN (SELECT o_orderkey FROM {src})",
                f"INSERT INTO cur SELECT * FROM {src}",
            )
        elif op.kind in ("update", "delete"):
            cond = _where(info["range"])
            rec.expected = con.execute(f"SELECT count(*) FROM cur WHERE {cond}").fetchone()[0]
            rec.duck_s = duck.apply_timed(
                f"UPDATE cur SET o_orderpriority = '1-URGENT' WHERE {cond}"
                if op.kind == "update"
                else f"DELETE FROM cur WHERE {cond}"
            )
        elif op.kind == "scd2":
            src = f"read_parquet('{self.batches[info['batch']]['path']}')"
            changed = " OR ".join(f"b.{c} IS DISTINCT FROM s.{c}" for c in SCD_TRACKED)
            self.scd_rows += con.execute(
                f"SELECT count(*) FROM {src} b LEFT JOIN scd s USING (o_orderkey) "
                f"WHERE s.o_orderkey IS NULL OR {changed}"
            ).fetchone()[0]
            rec.expected = self.scd_rows
            rec.duck_s = duck.apply_timed(
                f"DELETE FROM scd WHERE o_orderkey IN (SELECT o_orderkey FROM {src})",
                f"INSERT INTO scd SELECT {SCD_COLS} FROM {src}",
            )
        elif op.shape == "read.latest":
            rec.expected, rec.duck_s = duck.timed(self.read_sql.replace("$TABLE", f"v{info['version']}"))
        elif op.shape == "read.time_travel":
            rec.expected, rec.duck_s = duck.timed(_status_agg_sql(f"v{info['version']}"))
        elif op.shape == "read.skip_filters":
            where = "WHERE " + _where(info["range"])
            rec.expected, rec.duck_s = duck.timed(_status_agg_sql(f"v{info['version']}", where))
        elif op.shape == "read.changes":
            src = self.batches[info["batch"]]["path"]
            rec.expected, rec.duck_s = duck.timed(f"SELECT * FROM read_parquet('{src}')")
        elif op.shape == "meta.snapshot":
            rec.expected = info["version"]
        elif op.kind == "checkpoint":
            rec.expected = self.versions[-1]
        elif op.kind == "stream":
            union = " UNION ALL ".join(
                f"SELECT *, {j} AS bi FROM read_parquet('{self.batches[b]['path']}')"
                for j, b in enumerate(info["batches"])
            )
            rec.expected, rec.duck_s = duck.timed(
                f"SELECT {SCD_COLS} FROM (SELECT *, row_number() OVER (PARTITION BY "
                f"o_orderkey ORDER BY bi DESC) AS rn FROM ({union})) t WHERE rn = 1"
            )
        if isinstance(res, dict) and "version" in res:
            con.execute(f"CREATE OR REPLACE TABLE v{res['version']} AS SELECT * FROM cur")

    def check(self, records: list[Record]) -> list[Verdict]:
        """Every call against the replay; then the final state, a
        time-travel state and the SCD2 dimension in full."""
        from pyspark.sql import functions as F

        from delta_unity_duckdb_spark.operators.scd2 import scd2_invariant_violations
        from delta_unity_duckdb_spark.sources import delta_log as dl

        con = self.duck.con
        out: list[Verdict] = []
        for rec in records:
            op, res, want = rec.op, rec.result, rec.expected
            if op.kind in ("update", "delete"):
                got = res["rows_affected"]
                out.append(verdict(None if got == want else f"{op.kind} affected {got} != {want}"))
            elif op.kind == "scd2":
                got = res["total_rows"]
                out.append(verdict(None if got == want else f"scd2 rows {got} != {want}"))
            elif op.kind in ("read", "sql"):
                out.append(verdict(same_rows(res, want)))
            elif op.kind in ("meta", "checkpoint"):
                out.append(verdict(None if res == want else f"{op.shape} version {res} != {want}"))
            elif op.kind == "stream":
                state, cur = res
                bad = {k: n for k, n in scd2_invariant_violations(state, SCD_KEYS).items() if n}
                why = same_rows(cur, want) or (f"stream scd2 invariants {bad}" if bad else None)
                out.append(verdict(why))
            else:  # merge, optimize: judged by the reads and the final state
                out.append(Verdict("ok"))

        problems = []
        latest = dl.read_delta(self.spark, self.table).toPandas()
        self.final_user_bytes = pa.Table.from_pandas(latest, preserve_index=False).nbytes
        why = same_rows(latest, con.execute("SELECT * FROM cur").df())
        if why:
            problems.append(f"final state: {why}")
        mid = self.versions[len(self.versions) // 2]
        old = dl.read_delta(self.spark, self.table, version=mid).toPandas()
        why = same_rows(old, con.execute(f"SELECT * FROM v{mid}").df())
        if why:
            problems.append(f"time travel v{mid}: {why}")
        if os.path.exists(self.scd):
            scd = self.spark.read.parquet(self.scd)
            bad = {k: n for k, n in scd2_invariant_violations(scd, SCD_KEYS).items() if n}
            if bad:
                problems.append(f"scd2 invariants {bad}")
            cur = scd.filter(F.col("is_current")).select(*SCD_KEYS, *SCD_TRACKED).toPandas()
            why = same_rows(cur, con.execute(f"SELECT {SCD_COLS} FROM scd").df())
            if why:
                problems.append(f"scd2 current rows: {why}")
        if problems:
            last = max(i for i, rec in enumerate(records) if rec.op.kind == "merge")
            out[last] = Verdict("mismatch", "; ".join(problems))
        return out

    def layer_metrics(self, records: list[Record]) -> dict[str, float]:
        from statistics import median

        ok = [r for r in records if r.error is None]
        def med(kind: str) -> float:
            xs = [r.latency_s for r in ok if r.op.kind == kind]
            return median(xs) if xs else 0.0

        commits = [r for r in ok if r.op.kind in ("merge", "update", "delete", "optimize")]
        commit_lat = sorted(r.latency_s for r in commits)
        merges = [r.result for r in ok if r.op.kind == "merge"]
        rewritten = [
            r.result.get("files_rewritten", r.result.get("files_removed", 0)) for r in commits
        ]
        skipped = sum(m["files_skipped"] for m in merges)
        touched = skipped + sum(m["files_rewritten"] for m in merges)
        user = sum(
            pq.read_table(self.batches[r.op.info["batch"]]["path"]).nbytes
            for r in ok
            if r.op.kind == "merge"
        )
        syncs = [r.result for r in ok if r.op.kind == "scd2"]
        reads = [r.latency_s for r in ok if r.op.shape.startswith("read.")]
        return {
            "delta_log.snapshot_s": median([r.latency_s for r in ok if r.op.shape == "meta.snapshot"] or [0.0]),
            "delta_log.merge_s": med("merge"),
            "delta_log.checkpoint_s": med("checkpoint"),
            "delta_log.optimize_s": med("optimize"),
            "delta_log.commit_p50_s": median(commit_lat) if commit_lat else 0.0,
            "delta_log.commit_p90_s": commit_lat[int(0.9 * (len(commit_lat) - 1))] if commit_lat else 0.0,
            "delta_log.read_after_write_p50_s": median(reads) if reads else 0.0,
            "delta_log.files_rewritten_per_commit": sum(rewritten) / max(1, len(rewritten)),
            "delta_log.files_skipped_ratio": skipped / touched if touched else 0.0,
            "delta_log.bytes_written_per_user_byte": (_dir_bytes(self.table) - self.bytes_at_start) / max(1, user),
            "delta_log.bytes_stored_per_user_byte": _dir_bytes(self.table) / max(1, self.final_user_bytes),
            # Versions skipped between this client's consecutive commits:
            # write_delta moves to the next version when it loses a race
            # for one. Structurally 0 with a single client.
            "delta_log.commit_retries": float(
                sum(b - a - 1 for a, b in zip(self.versions, self.versions[1:]))
            ),
            "scd2.sync_s": med("scd2"),
            "scd2.rows_versioned": float(syncs[-1]["total_rows"]) if syncs else 0.0,
        }


WRITE_LAYER_METRICS = (
    "delta_log.snapshot_s",
    "delta_log.merge_s",
    "delta_log.checkpoint_s",
    "delta_log.optimize_s",
    "delta_log.commit_p50_s",
    "delta_log.commit_p90_s",
    "delta_log.read_after_write_p50_s",
    "delta_log.files_rewritten_per_commit",
    "delta_log.files_skipped_ratio",
    "delta_log.bytes_written_per_user_byte",
    "delta_log.bytes_stored_per_user_byte",
    "delta_log.commit_retries",
    "scd2.sync_s",
    "scd2.rows_versioned",
)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _batch_ts(b: int):
    import datetime as dt

    return dt.datetime(2024, 1, 1) + dt.timedelta(minutes=b + 2)


WORKLOADS = {w.name: w for w in (InteractiveSql, LlmCuration, DeltaScd2Sync)}
