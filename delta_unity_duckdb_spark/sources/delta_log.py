"""Minimal Delta Lake transaction-log reader/writer (no delta-spark).

The reference's core capability is reading Delta tables WITHOUT the heavy
runtime that normally owns them — DuckDB's ``delta_scan`` instead of a
Databricks cluster (delta-unity-duckdb.js:327-343). This module is the
same move on Spark: when ``delta-spark`` is absent, read a Delta table by
replaying its transaction log directly (public protocol:
https://github.com/delta-io/delta/blob/master/PROTOCOL.md) and hand the
resulting file list to the ordinary parquet reader — so Catalyst still
sees a plain parquet relation with full pushdown/pruning.

Supported: JSON commits, parquet checkpoints (`_last_checkpoint`),
add/remove reconciliation, schemaString → StructType, partition-column
recovery from ``partitionValues``, time travel (``version=``), and a
single-writer append/overwrite commit path with O_EXCL optimistic
concurrency. Unsupported (explicitly refused, not silently wrong):
deletion vectors, column mapping, reader version > 2.

Scale posture: log replay touches ONLY the log (KBs per commit; the
checkpoint bounds replay length) — never data files. The data read is a
normal parquet scan over the active file set, so predicate pushdown,
column pruning, and split planning are unchanged. Partition values ride
per-file constant columns via a UNION of per-partition reads grouped by
partition tuple — each branch is one pruned parquet relation.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_COMMIT_DIGITS = 20

# Data-skipping operators understood by ``read_delta(skip_filters=…)``.
_SKIP_OPS = ("=", "!=", "<", "<=", ">", ">=")


class DeltaProtocolError(RuntimeError):
    """Table uses a Delta feature this minimal reader refuses to guess at."""


def _commit_path(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, f"{version:0{_COMMIT_DIGITS}d}.json")


def _list_commit_versions(log_dir: str) -> list[int]:
    out = []
    for f in os.listdir(log_dir):
        base = f.split(".")[0]
        if f.endswith(".json") and base.isdigit() and len(base) == _COMMIT_DIGITS:
            out.append(int(base))
    return sorted(out)


def _file_stats_json(path: str) -> str | None:
    """Per-file Delta stats (numRecords/minValues/maxValues/nullCount) from
    the parquet FOOTER only — no data pages are read, so cost is O(files),
    not O(bytes): the same reason real Delta writers emit stats at write
    time, this stays viable at 100 TB (a footer is ~KBs regardless of file
    size). Columns whose chunks lack statistics (or carry types we don't
    normalize) are simply omitted — skipping is advisory, absence is safe.
    """
    try:
        meta = pq.ParquetFile(path).metadata
    except Exception:
        return None

    import datetime
    import math

    def norm(v):
        if isinstance(v, bytes):
            try:
                return v.decode("utf-8")
            except UnicodeDecodeError:
                return None
        if isinstance(v, bool) or isinstance(v, int) or isinstance(v, str):
            return v
        if isinstance(v, float):
            return v if math.isfinite(v) else None
        if isinstance(v, datetime.datetime):
            return v.isoformat(sep="T", timespec="microseconds")
        if isinstance(v, datetime.date):
            return v.isoformat()
        return None

    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    dropped: set[str] = set()
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        for ci in range(group.num_columns):
            chunk = group.column(ci)
            name = chunk.path_in_schema
            if "." in name or name in dropped:  # nested leaves: skip
                continue
            st = chunk.statistics
            if st is None or not st.has_min_max:
                dropped.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                nulls.pop(name, None)
                continue
            lo, hi = norm(st.min), norm(st.max)
            if lo is None or hi is None:
                dropped.add(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                nulls.pop(name, None)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
            nc = st.null_count if st.has_null_count else 0
            nulls[name] = nulls.get(name, 0) + int(nc or 0)
    return json.dumps(
        {
            "numRecords": meta.num_rows,
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        },
        separators=(",", ":"),
        default=str,
    )


def _coerce_like(stat_value, filter_value):
    """Bring a JSON-round-tripped stat value into the filter value's domain
    for ordering comparisons; None = not comparable (skip conservatively)."""
    import datetime

    if isinstance(filter_value, datetime.datetime) and isinstance(stat_value, str):
        try:
            parsed = datetime.datetime.fromisoformat(stat_value)
        except ValueError:
            return None
        # Align tz-awareness or the comparison raises (and skips nothing).
        # The engine session is pinned to UTC (session.py), so naive values
        # ARE UTC instants.
        if parsed.tzinfo is not None and filter_value.tzinfo is None:
            parsed = parsed.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        elif parsed.tzinfo is None and filter_value.tzinfo is not None:
            parsed = parsed.replace(tzinfo=datetime.timezone.utc)
        return parsed
    if isinstance(filter_value, datetime.date) and isinstance(stat_value, str):
        try:
            return datetime.date.fromisoformat(stat_value[:10])
        except ValueError:
            return None
    if isinstance(filter_value, bool) or isinstance(stat_value, bool):
        return stat_value if isinstance(stat_value, bool) else None
    if isinstance(filter_value, (int, float)):
        return stat_value if isinstance(stat_value, (int, float)) else None
    if isinstance(filter_value, str):
        return stat_value if isinstance(stat_value, str) else None
    return None


def _file_may_match(
    add: dict, col: str, op: str, value, part_cols: list[str]
) -> bool:
    """Can the file possibly contain a row satisfying ``col op value``?
    True unless the file's metadata PROVES otherwise (conservative)."""
    if op not in _SKIP_OPS:
        return True
    if col in part_cols:
        raw = (add.get("partitionValues") or {}).get(col)
        if raw is None:
            return op in ("=", "!=") and value is None
        cast = _coerce_like(raw, value)
        if cast is None and isinstance(value, (int, float)):
            try:
                cast = type(value)(raw) if not isinstance(value, bool) else None
            except (TypeError, ValueError):
                cast = None
        if cast is None:
            return True
        lo = hi = cast
    else:
        stats = add.get("stats")
        if not stats:
            return True
        try:
            parsed = json.loads(stats) if isinstance(stats, str) else stats
        except (TypeError, ValueError):
            return True
        lo = _coerce_like(parsed.get("minValues", {}).get(col), value)
        hi = _coerce_like(parsed.get("maxValues", {}).get(col), value)
        if lo is None or hi is None:
            return True
    try:
        if op == "=":
            return lo <= value <= hi
        if op == "!=":
            return not (lo == value == hi)
        if op == "<":
            return lo < value
        if op == "<=":
            return lo <= value
        if op == ">":
            return hi > value
        if op == ">=":
            return hi >= value
    except TypeError:
        return True
    return True


def prune_adds(
    adds: dict[str, dict],
    filters: list[tuple[str, str, object]],
    part_cols: list[str],
) -> dict[str, dict]:
    """File-level data skipping: drop files whose stats / partition values
    prove no row can satisfy ALL of ``filters`` (an AND of simple
    predicates). At cluster scale this is the difference between planning
    over every file of a 100 TB table and over the handful whose min/max
    ranges overlap the predicate — the log alone decides, no data IO."""
    return {
        p: a
        for p, a in adds.items()
        if all(_file_may_match(a, c, op, v, part_cols) for c, op, v in filters)
    }


class DeltaSnapshot:
    """Reconciled state of a Delta table at one version."""

    def __init__(self, table_path: str, version: int):
        self.table_path = table_path
        self.version = version
        self.metadata: dict | None = None
        self.protocol: dict | None = None
        self.adds: dict[str, dict] = {}  # path -> add action

    @property
    def schema(self) -> StructType:
        assert self.metadata is not None, "log contained no metaData action"
        return StructType.fromJson(json.loads(self.metadata["schemaString"]))

    @property
    def partition_columns(self) -> list[str]:
        assert self.metadata is not None
        return list(self.metadata.get("partitionColumns") or [])

    def file_paths(self) -> list[str]:
        return [os.path.join(self.table_path, p) for p in sorted(self.adds)]

    def _apply(self, action: dict) -> None:
        if "metaData" in action:
            self.metadata = action["metaData"]
        elif "protocol" in action:
            self.protocol = action["protocol"]
            if self.protocol.get("minReaderVersion", 1) > 2:
                raise DeltaProtocolError(
                    f"minReaderVersion={self.protocol['minReaderVersion']} > 2"
                )
            for feat in self.protocol.get("readerFeatures") or []:
                if feat in ("deletionVectors", "columnMapping", "v2Checkpoint"):
                    raise DeltaProtocolError(f"unsupported reader feature: {feat}")
        elif "add" in action:
            add = action["add"]
            if add.get("deletionVector"):
                raise DeltaProtocolError("file carries a deletion vector")
            self.adds[add["path"]] = add
        elif "remove" in action:
            self.adds.pop(action["remove"]["path"], None)
        # commitInfo / txn / cdc: no effect on the active file set


_STR = pa.string()
_STR_MAP = pa.map_(_STR, _STR)

# The checkpoint file layout: one struct column per action kind, Spark's
# nullable-everything parquet shape (maps as key_value groups, lists as
# 3-level lists), so Spark and DuckDB read it like a Spark-written one.
_CHECKPOINT_SCHEMA = pa.schema(
    {
        "protocol": pa.struct({"minReaderVersion": pa.int32(), "minWriterVersion": pa.int32()}),
        "metaData": pa.struct(
            {
                "id": _STR,
                "name": _STR,
                "description": _STR,
                "format": pa.struct({"provider": _STR, "options": _STR_MAP}),
                "schemaString": _STR,
                "partitionColumns": pa.list_(_STR),
                # configuration MUST round-trip through checkpoints: CHECK
                # constraints live in delta.constraints.* keys, and a
                # snapshot rebuilt from a checkpoint that dropped them
                # would silently stop enforcing
                "configuration": _STR_MAP,
                "createdTime": pa.int64(),
            }
        ),
        "add": pa.struct(
            {
                "path": _STR,
                "partitionValues": _STR_MAP,
                "size": pa.int64(),
                "modificationTime": pa.int64(),
                "dataChange": pa.bool_(),
                "stats": _STR,
            }
        ),
    }
)


def _as_json_value(value, typ: pa.DataType):
    """A pyarrow ``to_pylist`` value as the log's JSON shape: maps (lists
    of key/value tuples there) become dicts, in nested structs too."""
    if value is None:
        return None
    if pa.types.is_map(typ):
        return {k: _as_json_value(v, typ.item_type) for k, v in value}
    if pa.types.is_struct(typ):
        return {f.name: _as_json_value(value[f.name], f.type) for f in typ}
    return value


def _load_checkpoint(log_dir: str, version: int, snap: DeltaSnapshot) -> None:
    """Fold a parquet checkpoint (complete state at ``version``) into snap,
    read by pyarrow on the driver — ours or another writer's."""
    path = os.path.join(
        log_dir, f"{version:0{_COMMIT_DIGITS}d}.checkpoint.parquet"
    )
    pf = pq.ParquetFile(path)
    kinds = [k for k in ("protocol", "metaData", "add", "remove") if k in pf.schema_arrow.names]
    table = pf.read(columns=kinds)
    types = {k: table.schema.field(k).type for k in kinds}
    # Checkpoints store one action per row in struct columns; replay order
    # inside a checkpoint is irrelevant (it is already reconciled state),
    # but metaData/protocol must land before being read.
    for row in table.to_pylist():
        for key in kinds:
            sub = row[key]
            # a checkpoint row holds ONE action; the other struct columns
            # are null — which some writers serialize as all-null structs
            if sub is not None and any(v is not None for v in sub.values()):
                snap._apply({key: _as_json_value(sub, types[key])})


def snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DeltaSnapshot:
    """Replay the log to ``version`` (default: latest)."""
    log_dir = os.path.join(table_path, "_delta_log")
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"not a Delta table (no _delta_log): {table_path}")
    versions = _list_commit_versions(log_dir)
    ckpt_available = -1
    last_ckpt = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(last_ckpt):
        with open(last_ckpt) as fh:
            ckpt_available = json.load(fh)["version"]
    if version is None:
        # A fully log-cleaned table can hold ONLY a checkpoint — the
        # checkpoint alone defines the latest state then.
        if not versions and ckpt_available < 0:
            raise FileNotFoundError(f"empty _delta_log in {table_path}")
        version = max(versions[-1] if versions else -1, ckpt_available)

    ckpt_version = ckpt_available if 0 <= ckpt_available <= version else -1

    snap = DeltaSnapshot(table_path, version)
    if ckpt_version >= 0:
        _load_checkpoint(log_dir, ckpt_version, snap)

    for v in range(ckpt_version + 1, version + 1):
        cpath = _commit_path(log_dir, v)
        if not os.path.exists(cpath):
            if v in (0, ckpt_version + 1) and ckpt_version >= 0:
                continue  # commits before/at the checkpoint may be vacuumed
            raise FileNotFoundError(f"missing commit {v} in {log_dir}")
        with open(cpath) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    snap._apply(json.loads(line))
    return snap


def version_at_timestamp(table_path: str, ts) -> int:
    """Resolve ``TIMESTAMP AS OF`` to a version: the LAST commit whose
    commitInfo timestamp is <= ``ts`` (Delta's semantics — you read the
    table as it was at that wall-clock moment). ``ts`` is epoch
    milliseconds (int) or a ``datetime``. Raises if ``ts`` predates the
    first available commit (same contract as Delta Lake)."""
    import datetime as _dt

    if isinstance(ts, _dt.datetime):
        ts = int(ts.timestamp() * 1000)
    log_dir = os.path.join(table_path, "_delta_log")
    versions = _list_commit_versions(log_dir)
    if not versions:
        raise FileNotFoundError(f"no commits in {log_dir}")
    best: int | None = None
    prev_effective: int | None = None
    for v in versions:
        cpath = _commit_path(log_dir, v)
        commit_ts: int | None = None
        with open(cpath) as fh:
            # external Delta writers are not required to put commitInfo
            # first — scan every action of the commit for it
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                action = json.loads(line)
                if "commitInfo" in action:
                    commit_ts = action["commitInfo"].get("timestamp")
                    break
        if commit_ts is None:
            commit_ts = int(os.path.getmtime(cpath) * 1000)
        # Delta's monotonicity adjustment: writer clock skew can emit
        # out-of-order commitInfo timestamps; the effective timestamp of a
        # version is clamped to be >= its predecessor's so the
        # version-by-timestamp mapping stays well ordered
        if prev_effective is not None and commit_ts < prev_effective:
            commit_ts = prev_effective
        prev_effective = commit_ts
        if commit_ts <= ts:
            best = v
        else:
            break
    if best is None:
        raise ValueError(
            f"timestamp {ts} predates the first commit of {table_path}"
        )
    return best


def read_delta(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    skip_filters: list[tuple[str, str, object]] | None = None,
    timestamp=None,
) -> DataFrame:
    """Read a Delta table as a DataFrame by direct log replay.

    Partitioned tables: data files do not store partition columns — the
    values live in each add action's ``partitionValues``. Files are
    grouped by partition tuple; each group becomes one parquet relation
    with the partition values attached as typed literal columns, and the
    groups union. Filters on partition columns therefore constant-fold
    per branch (Catalyst prunes whole branches — the same file-skipping
    effect as catalog partition pruning).

    ``skip_filters`` — an AND-list of ``(column, op, value)`` with op in
    ``= != < <= > >=`` — applies log-level data skipping (per-file
    min/max/partition stats) before the scan is even planned, then
    re-applies the same predicates as real row filters on the result, so
    the answer is identical to an unpruned read + ``.filter(...)``; only
    the file set the scan plans over shrinks.

    ``timestamp`` — TIMESTAMP AS OF: mutually exclusive with ``version``;
    resolved to the last commit at or before that moment.
    """
    if timestamp is not None:
        if version is not None:
            raise ValueError("pass either version or timestamp, not both")
        version = version_at_timestamp(table_path, timestamp)
    snap = snapshot(spark, table_path, version)

    adds = snap.adds
    if skip_filters:
        adds = prune_adds(adds, skip_filters, snap.partition_columns)

    def refilter(df: DataFrame) -> DataFrame:
        # Stats pruning is file-granular; rows inside surviving files
        # still need the predicate. Same expressions → Catalyst pushes
        # them into the parquet scan (PushedFilters).
        for c, op, v in skip_filters or []:
            col = F.col(c)
            expr = {
                "=": col == v, "!=": col != v, "<": col < v,
                "<=": col <= v, ">": col > v, ">=": col >= v,
            }[op]
            df = df.filter(expr)
        return df

    return refilter(_df_for_adds(spark, snap, adds))


def _df_for_adds(
    spark: SparkSession, snap: DeltaSnapshot, adds: dict[str, dict]
) -> DataFrame:
    """Plan a DataFrame over a subset of a snapshot's files, partition
    columns reattached as typed literals per partition group."""
    schema = snap.schema
    part_cols = snap.partition_columns
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    data_schema = StructType(data_fields)

    if not adds:
        return spark.createDataFrame([], schema)

    if not part_cols:
        paths = [os.path.join(snap.table_path, p) for p in sorted(adds)]
        return spark.read.schema(data_schema).parquet(*paths)

    by_part: dict[tuple, list[str]] = {}
    for path, add in sorted(adds.items()):
        key = tuple(add.get("partitionValues", {}).get(c) for c in part_cols)
        by_part.setdefault(key, []).append(os.path.join(snap.table_path, path))

    field_type = {f.name: f.dataType for f in schema.fields}
    branches = []
    for key, paths in sorted(by_part.items()):
        df = spark.read.schema(data_schema).parquet(*paths)
        for c, raw in zip(part_cols, key):
            # partitionValues serialize as strings (or null); cast back
            df = df.withColumn(
                c, F.lit(raw).cast(field_type[c]) if raw is not None else F.lit(None).cast(field_type[c])
            )
        branches.append(df.select([f.name for f in schema.fields]))
    return reduce(lambda a, b: a.unionByName(b), branches)


def table_version(table_path: str) -> int:
    """Latest committed version (reference getTableStats analogue)."""
    versions = _list_commit_versions(os.path.join(table_path, "_delta_log"))
    if not versions:
        raise FileNotFoundError(f"empty _delta_log in {table_path}")
    return versions[-1]


def _schema_to_string(schema: StructType) -> str:
    return json.dumps(schema.jsonValue())


def _commit_payload(actions: list[dict]) -> str:
    return "\n".join(json.dumps(a, separators=(",", ":")) for a in actions) + "\n"


def _commit_next(table_path: str, read_version: int, actions: list[dict]) -> int:
    """Commit ``actions`` as ``read_version + 1`` with an exclusive create.
    Losing the race raises instead of retrying: the actions were derived
    from ``read_version``, and replaying them on top of an unseen commit
    could resurrect rows that commit removed."""
    version = read_version + 1
    cpath = _commit_path(os.path.join(table_path, "_delta_log"), version)
    try:
        fd = os.open(cpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise DeltaProtocolError(f"concurrent commit at version {version}; re-run") from None
    with os.fdopen(fd, "w") as fh:
        fh.write(_commit_payload(actions))
    return version


def _stage_files(
    df: DataFrame,
    table_path: str,
    partition_by: list[str],
    data_change: bool = True,
) -> list[dict]:
    """Write ``df`` as parquet into the table directory under unique names
    (invisible until committed) and return the add actions, stats included."""
    stage_token = uuid.uuid4().hex[:12]
    stage_dir = os.path.join(table_path, f"_staging_{stage_token}")
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage_dir)

    adds: list[dict] = []
    for root, _dirs, files in os.walk(stage_dir):
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            src = os.path.join(root, fname)
            rel_dir = os.path.relpath(root, stage_dir)
            part_values: dict[str, str | None] = {}
            if rel_dir != ".":
                for seg in rel_dir.split(os.sep):
                    k, _, v = seg.partition("=")
                    part_values[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
            rel_target = (
                os.path.join(rel_dir, f"{stage_token}-{fname}")
                if rel_dir != "."
                else f"{stage_token}-{fname}"
            )
            dst = os.path.join(table_path, rel_target)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
            add_action = {
                "path": rel_target.replace(os.sep, "/"),
                "partitionValues": part_values,
                "size": os.path.getsize(dst),
                "modificationTime": int(time.time() * 1000),
                "dataChange": data_change,
            }
            stats = _file_stats_json(dst)
            if stats:
                add_action["stats"] = stats
            adds.append({"add": add_action})
    # clean the now-empty staging tree
    for root, dirs, files in os.walk(stage_dir, topdown=False):
        for f_ in files:
            os.remove(os.path.join(root, f_))
        os.rmdir(root)
    return adds


def write_delta(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
) -> int:
    """Commit a DataFrame to a Delta table via the log protocol; returns
    the committed version.

    Two phases, crash-safe in the Delta sense: (1) write parquet data
    files into the table directory under unique names — invisible until
    committed; (2) append commit ``N.json`` with O_CREAT|O_EXCL, so two
    concurrent writers race on the file create and the loser retries at
    N+1 (optimistic concurrency, single-filesystem scope). ``overwrite``
    emits remove actions for the previous snapshot's files in the same
    atomic commit.

    Appends enforce the table schema by name: a DataFrame with extra or
    missing columns is rejected unless ``merge_schema=True`` (Delta's
    ``mergeSchema`` option), which widens the table schema in the same
    commit — new columns land nullable, existing files backfill NULL on
    read, no data rewrite. Same-name type conflicts always raise (this
    minimal writer does no type widening).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    partition_by = list(partition_by or [])
    spark = df.sparkSession
    log_dir = os.path.join(table_path, "_delta_log")
    os.makedirs(log_dir, exist_ok=True)
    existing = _list_commit_versions(log_dir)
    # A vacuumed table can have a checkpoint but no JSON commits — the
    # checkpoint alone proves the table exists at that version.
    latest: int | None = existing[-1] if existing else None
    ckpt_file = os.path.join(log_dir, "_last_checkpoint")
    if os.path.exists(ckpt_file):
        with open(ckpt_file) as fh:
            ckpt_v = json.load(fh)["version"]
        latest = ckpt_v if latest is None else max(latest, ckpt_v)

    prev: DeltaSnapshot | None = None
    if latest is not None:
        prev = snapshot(spark, table_path, latest)
        if prev.partition_columns != partition_by:
            raise ValueError(
                f"partition mismatch: table has {prev.partition_columns}, "
                f"write requested {partition_by}"
            )

    # Append-time schema enforcement / evolution (Delta mergeSchema).
    evolved_metadata: dict | None = None
    if prev is not None and mode == "append":
        tbl_fields = {f.name: f for f in prev.schema.fields}
        df_fields = {f.name: f for f in df.schema.fields}
        # Same-name type differences: cast the INPUT to the table type when
        # the cast is assignment-safe (Delta's ANSI store-assignment policy
        # — numeric↔numeric, date→timestamp); anything else is a conflict.
        def _assignment_castable(src: str, dst: str) -> bool:
            numeric = {"tinyint", "smallint", "int", "bigint", "float", "double"}

            def is_num(t: str) -> bool:
                return t in numeric or t.startswith("decimal")

            return (is_num(src) and is_num(dst)) or (
                src == "date" and dst == "timestamp"
            )

        casts: dict[str, object] = {}
        conflicts: list[str] = []
        for n, f in df_fields.items():
            if n not in tbl_fields:
                continue
            src_t = f.dataType.simpleString()
            dst_t = tbl_fields[n].dataType.simpleString()
            if src_t == dst_t:
                continue
            if _assignment_castable(src_t, dst_t):
                casts[n] = tbl_fields[n].dataType
            else:
                conflicts.append(f"{n} ({src_t} -> {dst_t})")
        if conflicts:
            raise ValueError(
                f"schema conflict on append: column(s) {conflicts} are not "
                f"assignment-castable to the table type"
            )
        for n, dtype in casts.items():
            df = df.withColumn(n, F.col(n).cast(dtype))
        new_cols = [f.name for f in df.schema.fields if f.name not in tbl_fields]
        missing_cols = [n for n in tbl_fields if n not in df_fields]
        if (new_cols or missing_cols) and not merge_schema:
            raise ValueError(
                f"schema mismatch on append (new: {new_cols}, missing: "
                f"{missing_cols}); pass merge_schema=True to evolve the table"
            )
        if new_cols:
            from pyspark.sql.types import StructField

            merged = StructType(
                list(prev.schema.fields)
                + [
                    StructField(n, df_fields[n].dataType, nullable=True)
                    for n in new_cols
                ]
            )
            evolved_metadata = dict(prev.metadata or {})
            evolved_metadata["schemaString"] = _schema_to_string(merged)

    # CHECK constraints (delta.constraints.*) gate every write — violating
    # rows fail the commit before any data is staged. Overwrites are
    # checked too: the constraint describes the table, not the delta.
    if prev is not None:
        _enforce_constraints(df, _check_constraints(prev.metadata))

    adds = _stage_files(df, table_path, partition_by)

    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "WRITE",
                "operationParameters": {"mode": mode},
                "engineInfo": "delta_unity_duckdb_spark minimal-writer",
            }
        }
    ]
    if latest is None:
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
    if latest is None or mode == "overwrite":
        # Overwrite replaces schema + data but NOT table identity or
        # configuration (constraints survive an INSERT OVERWRITE).
        prev_meta = (prev.metadata or {}) if prev is not None else {}
        actions.append(
            {
                "metaData": {
                    "id": prev_meta.get("id") or str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _schema_to_string(df.schema),
                    "partitionColumns": partition_by,
                    "configuration": dict(prev_meta.get("configuration") or {}),
                    "createdTime": prev_meta.get("createdTime")
                    or int(time.time() * 1000),
                }
            }
        )
    if evolved_metadata is not None:
        actions.append({"metaData": evolved_metadata})
    if mode == "overwrite" and prev is not None:
        ts = int(time.time() * 1000)
        for path in prev.adds:
            actions.append(
                {"remove": {"path": path, "deletionTimestamp": ts, "dataChange": True}}
            )
    actions.extend(adds)

    # Phase 2: atomic commit with optimistic retry.
    next_version = (latest + 1) if latest is not None else 0
    payload = _commit_payload(actions)
    while True:
        cpath = _commit_path(log_dir, next_version)
        try:
            fd = os.open(cpath, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            next_version += 1  # lost the race — retry on top of the new commit
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(payload)
        return next_version


# Up to this many distinct source keys come back from the merge census for
# exact per-file pruning; above it pruning falls back to the per-column
# min/max envelope (the collected key list must stay driver-small).
_MERGE_KEYSET_CAP = 100_000

# Target size of the files a rewrite writes: OPTIMIZE's default, and what
# a merge sizes its rewritten files by.
_TARGET_FILE_BYTES = 128 * 1024 * 1024


def _file_count(total_bytes: int, target_bytes: int, floor: int = 1) -> int:
    """Output files for a rewrite of ``total_bytes``: one per
    ``target_bytes``, and never fewer than ``floor``."""
    return max(1, floor, -(-int(total_bytes) // target_bytes))


def _clustered(df: DataFrame, n_files: int, keys: list[str]) -> DataFrame:
    """Range-partition into ``n_files`` key ranges, each sorted by key, so the
    written files carry disjoint, tight min/max stats on ``keys``."""
    return df.repartitionByRange(n_files, *keys).sortWithinPartitions(*keys)


def _num_records(adds) -> int | None:
    """Rows in ``adds`` from their ``numRecords`` stats; None if any file
    lacks them."""
    total = 0
    for add in adds:
        try:
            stats = add["stats"]
            total += (json.loads(stats) if isinstance(stats, str) else stats)["numRecords"]
        except (KeyError, TypeError, ValueError):
            return None
    return total


def _source_census(source_df: DataFrame, on: list[str]):
    """Row count, duplicate-key check and pruning keys of a merge source.

    One job: per-key row counts, sorted by key and capped at
    ``_MERGE_KEYSET_CAP + 1`` groups (a top-k, bounded per task). Up to the
    cap it returns ``(rows, keys, None)`` with ``keys`` the sorted distinct
    NULL-free key tuples. Above it, one aggregate over the same counts
    returns ``(rows, None, bounds)`` with each key column's (min, max).
    Raises if a NULL-free key occurs more than once (Delta's MERGE rule)."""
    counts = source_df.groupBy(*on).agg(F.count(F.lit(1)).alias("__n"))
    groups = counts.orderBy(*on).limit(_MERGE_KEYSET_CAP + 1).collect()
    if len(groups) <= _MERGE_KEYSET_CAP:
        rows = sum(g["__n"] for g in groups)
        keyed = [g for g in groups if all(g[k] is not None for k in on)]
        dup = any(g["__n"] > 1 for g in keyed)
        keys, bounds = [tuple(g[k] for k in on) for g in keyed], None
    else:
        nonnull = reduce(lambda a, b: a & b, [F.col(k).isNotNull() for k in on])
        agg = counts.agg(
            F.sum("__n").alias("__rows"),
            F.max(F.when(nonnull, F.col("__n"))).alias("__dup"),
            *[F.min(c).alias(f"__lo_{c}") for c in on],
            *[F.max(c).alias(f"__hi_{c}") for c in on],
        ).collect()[0]
        rows, dup, keys = agg["__rows"], (agg["__dup"] or 0) > 1, None
        bounds = [(agg[f"__lo_{c}"], agg[f"__hi_{c}"]) for c in on]
    if dup:
        raise ValueError("source has multiple rows per merge key")
    return rows, keys, bounds


def _files_possibly_matching(
    snap: DeltaSnapshot, on: list[str], keys: list[tuple] | None, bounds
) -> dict[str, dict]:
    """Target files that MAY contain one of the source's keys.

    Single-column keys with the census key set: probe each file's
    [min,max] with a binary search over the sorted keys — an insert-heavy
    source no longer stretches one envelope over the whole table, so a
    merge touching 2 clustered keys rewrites the 1-2 files that hold them.
    Compound keys or oversized key sets use the per-column min/max envelope
    (still conservative, never wrong)."""
    part_cols = snap.partition_columns
    if keys is not None and not keys:
        return {}  # all-NULL-key source: nothing can match
    if keys is not None and len(on) == 1:
        import bisect

        k, flat = on[0], [key[0] for key in keys]

        def may_match(add: dict) -> bool:
            if k in part_cols:
                return any(_file_may_match(add, k, "=", key, part_cols) for key in flat)
            stats = add.get("stats")
            if not stats:
                return True
            try:
                parsed = json.loads(stats) if isinstance(stats, str) else stats
            except (TypeError, ValueError):
                return True
            lo = _coerce_like(parsed.get("minValues", {}).get(k), flat[0])
            hi = _coerce_like(parsed.get("maxValues", {}).get(k), flat[0])
            if lo is None or hi is None:
                return True
            try:
                i = bisect.bisect_left(flat, lo)
            except TypeError:
                return True
            return i < len(flat) and flat[i] <= hi

        return {p: a for p, a in snap.adds.items() if may_match(a)}

    if keys is not None:
        bounds = [(min(col), max(col)) for col in zip(*keys)]
    overlap: list[tuple[str, str, object]] = []
    for c, (lo, hi) in zip(on, bounds):
        if lo is not None:
            overlap.extend([(c, ">=", lo), (c, "<=", hi)])
    if not overlap:
        return {}
    return prune_adds(snap.adds, overlap, part_cols)


def merge_delta(
    source_df: DataFrame,
    table_path: str,
    on: list[str],
    when_matched: str = "update",
    insert_not_matched: bool = True,
) -> dict:
    """MERGE INTO on the minimal Delta log (reference flagship B11 —
    ``INSERT … ON CONFLICT DO UPDATE/DO NOTHING``,
    delta_to_postgres_scd.py:242-261 — generalized beyond SCD2):
    copy-on-write at FILE granularity, driven by the per-file stats.

    1. One census job over the source returns its row count, its sorted
       distinct keys (up to ``_MERGE_KEYSET_CAP``) and with them the
       duplicate-key check; above the cap one more aggregate gives the
       count, the check and the per-column key envelope.
    2. Only target files whose min/max key range holds a source key (or
       overlaps the envelope) are touched — every other file PROVABLY
       contains no matching key and is never read, never rewritten. At
       100 TB with key-clustered files, a point-ish merge touches a
       handful of files instead of the table.
    3. One write of ``kept ∪ source``: the touched files' rows whose key
       is not in the source, plus the source (matched rows replace, the
       rest insert); the source alone when no file is touched. The other
       ``when_matched``/``insert_not_matched`` modes narrow the source part
       with a semi/anti join on the touched keys. The rows are range-
       clustered and key-sorted into ``max(touched files, ⌈bytes / 128
       MiB⌉)`` files, so the next merge touches as few as possible.
    4. One atomic commit: removes for touched files + adds for their
       replacements. Readers of the old version are unaffected; time
       travel keeps working.

    ``rows_matched`` (target rows matched) comes from the touched and
    written files' ``numRecords`` stats and the census count; a join count
    runs only when stats are missing or the mode leaves it undetermined
    (``"delete"`` with inserts, ``"update"`` without). With range
    sampling, a merge runs 2-3 jobs.

    Multiple source rows hitting one key raise (same rule as Delta's
    MERGE); NULL-keyed source rows never match (equality is
    null-rejecting) and land as inserts. Concurrent-writer conflict
    raises instead of blind-retrying — a merge retried on top of an
    unseen commit would resurrect rows it never read.
    """
    if when_matched not in ("update", "delete"):
        raise ValueError(f"when_matched must be update|delete, got {when_matched!r}")
    spark = source_df.sparkSession
    snap = snapshot(spark, table_path)
    target_cols = [f.name for f in snap.schema.fields]
    if set(source_df.columns) != set(target_cols):
        raise ValueError(
            f"source columns {sorted(source_df.columns)} != target {sorted(target_cols)}"
        )
    missing = [k for k in on if k not in target_cols]
    if missing:
        raise ValueError(f"merge keys not in schema: {missing}")
    source_df = source_df.select(target_cols)

    n_source, keys, bounds = _source_census(source_df, on)
    touched = _files_possibly_matching(snap, on, keys, bounds)
    untouched = {p: a for p, a in snap.adds.items() if p not in touched}

    touched_df = _df_for_adds(spark, snap, touched)
    # Source rows to write: all (update + insert), those a touched file
    # holds the key of (update only), the others (delete + insert), none.
    src_part: DataFrame | None = source_df if insert_not_matched else None
    if touched and (when_matched == "delete") == insert_not_matched:
        how = "left_semi" if when_matched == "update" else "left_anti"
        src_part = source_df.join(touched_df.select(on), on, how)
    if touched:
        kept = touched_df.join(source_df.select(on), on, "left_anti")
        new_data = kept if src_part is None else kept.unionByName(src_part)
    else:
        new_data = src_part

    adds: list[dict] = []
    if new_data is not None:
        # Bytes to write: the touched files, plus the source at the table's
        # mean bytes per row (stats only, no job).
        table_rows = _num_records(snap.adds.values()) or 0
        table_bytes = sum(int(a.get("size") or 0) for a in snap.adds.values())
        est = sum(int(a.get("size") or 0) for a in touched.values())
        est += n_source * table_bytes // table_rows if table_rows else 0
        n_files = _file_count(est, _TARGET_FILE_BYTES, floor=len(touched))
        adds = _stage_files(_clustered(new_data, n_files, on), table_path, snap.partition_columns)

    src_written = {("update", True): n_source, ("delete", False): 0}.get(
        (when_matched, insert_not_matched)
    )
    touched_rows = _num_records(touched.values())
    written_rows = _num_records(a["add"] for a in adds)
    if not touched:
        n_matched = 0
    elif None in (src_written, touched_rows, written_rows):
        n_matched = touched_df.select(on).join(source_df.select(on), on, "left_semi").count()
    else:
        n_matched = touched_rows + src_written - written_rows

    ts = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "MERGE",
                "operationParameters": {
                    "predicate": " AND ".join(f"t.{k} = s.{k}" for k in on),
                    "whenMatched": when_matched,
                    "insertNotMatched": insert_not_matched,
                },
                "operationMetrics": {
                    "numTargetFilesRemoved": len(touched),
                    "numTargetFilesAdded": len(adds),
                    "numTargetFilesSkipped": len(untouched),
                    "numMatchedRows": n_matched,
                },
                "engineInfo": "delta_unity_duckdb_spark minimal-writer",
            }
        }
    ]
    for path in touched:
        actions.append(
            {"remove": {"path": path, "deletionTimestamp": ts, "dataChange": True}}
        )
    actions.extend(adds)
    return {
        "version": _commit_next(table_path, snap.version, actions),
        "files_rewritten": len(touched),
        "files_skipped": len(untouched),
        "files_added": len(adds),
        "rows_matched": n_matched,
    }


def _predicate_expr(where: list[tuple[str, str, object]]):
    """AND-list of (col, op, value) → a Column predicate (same operator
    set the file pruner understands, so plan-time and file-time agree)."""
    expr = F.lit(True)
    for c, op, v in where:
        col = F.col(c)
        expr = expr & {
            "=": col == v, "!=": col != v, "<": col < v,
            "<=": col <= v, ">": col > v, ">=": col >= v,
        }[op]
    return expr


def _rewrite_matching(
    spark: SparkSession,
    table_path: str,
    where: list[tuple[str, str, object]],
    operation: str,
    rewrite,
) -> dict:
    """Shared DELETE/UPDATE engine: rewrite only files that may contain a
    matching row (stats-pruned) as ``rewrite(touched_df, pred)`` — one pass
    that keeps non-matching rows as-is and drops (DELETE) or re-emits
    (UPDATE) matching ones. Matching rows are counted by an observed metric
    of that same write, so a rewrite is one Spark job; when none match, the
    staged files are dropped and nothing is committed. One atomic commit;
    untouched files never read."""
    snap = snapshot(spark, table_path)
    for c, op, _ in where:
        if op not in _SKIP_OPS:
            raise ValueError(f"unsupported operator {op!r}")
        if c not in [f.name for f in snap.schema.fields]:
            raise ValueError(f"unknown column {c!r}")

    touched = prune_adds(snap.adds, where, snap.partition_columns)
    untouched = {p: a for p, a in snap.adds.items() if p not in touched}
    pred = _predicate_expr(where)

    adds: list[dict] = []
    n_affected = 0
    if touched:
        matched = Observation()
        touched_df = _df_for_adds(spark, snap, touched).observe(
            matched, F.count_if(pred).alias("n")
        )
        adds = _stage_files(rewrite(touched_df, pred), table_path, snap.partition_columns)
        n_affected = matched.get["n"]
    if n_affected == 0:
        # No rows match: nothing to rewrite, no commit needed.
        for a in adds:
            os.remove(os.path.join(table_path, a["add"]["path"]))
        return {
            "version": snap.version,
            "rows_affected": 0,
            "files_rewritten": 0,
            "files_skipped": len(snap.adds),
        }
    ts = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": operation,
                "operationParameters": {
                    "predicate": " AND ".join(f"{c} {op} {v!r}" for c, op, v in where)
                },
                "operationMetrics": {
                    "numAffectedRows": n_affected,
                    "numTargetFilesRemoved": len(touched),
                    "numTargetFilesAdded": len(adds),
                    "numTargetFilesSkipped": len(untouched),
                },
                "engineInfo": "delta_unity_duckdb_spark minimal-writer",
            }
        }
    ]
    for path in touched:
        actions.append(
            {"remove": {"path": path, "deletionTimestamp": ts, "dataChange": True}}
        )
    actions.extend(adds)
    _commit_next(table_path, snap.version, actions)
    return {
        "version": snap.version + 1,
        "rows_affected": n_affected,
        "files_rewritten": len(touched),
        "files_skipped": len(untouched),
    }


def delete_delta(
    spark: SparkSession, table_path: str, where: list[tuple[str, str, object]]
) -> dict:
    """DELETE FROM t WHERE … (AND-list of simple predicates) with file-level
    copy-on-write: stats decide which files can hold a matching row; only
    those are rewritten without the matching rows. Returns
    ``rows_affected`` — the reference's DML-with-rowcount surface
    (query_sync_table.py:122-125) as an engine operator."""
    return _rewrite_matching(
        spark, table_path, where, "DELETE", lambda df, pred: df.filter(~pred | F.isnull(pred))
    )


def update_delta(
    spark: SparkSession,
    table_path: str,
    where: list[tuple[str, str, object]],
    set_exprs: dict[str, object],
) -> dict:
    """UPDATE t SET col = expr, … WHERE … — matching rows re-emitted with
    the SET expressions applied (values or Column expressions over the old
    row, all of them seeing the old row as in SQL), non-matching rows
    byte-identical, untouched files skipped."""
    from pyspark.sql import Column

    def apply_set(df: DataFrame, pred) -> DataFrame:
        types = {f.name: f.dataType for f in df.schema.fields}
        unknown = [c for c in set_exprs if c not in types]
        if unknown:
            raise ValueError(f"unknown SET column {unknown[0]!r}")

        def assigned(c: str):
            v = set_exprs[c]
            new = (v if isinstance(v, Column) else F.lit(v)).cast(types[c])
            return F.when(pred, new).otherwise(F.col(c)).alias(c)

        return df.select([assigned(c) if c in set_exprs else F.col(c) for c in df.columns])

    return _rewrite_matching(spark, table_path, where, "UPDATE", apply_set)


def read_delta_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Incremental read: rows ADDED in commits (from_version, to_version]
    — the minimal change-data-feed used for incremental ingestion
    (process a Delta table as a sequence of commit batches instead of
    rescanning 100 TB per sync; the reference re-reads the whole table
    every SCD2 run, delta_to_postgres_scd.py:51-105 — this is the fix).

    Append-only semantics: add actions in the commit range are returned
    with a ``_commit_version`` column; a remove in the range (overwrite /
    compaction) raises — a caller doing incremental sync must resnapshot
    then, exactly like Delta CDF's semantics for non-append commits
    without the CDF flag.
    """
    log_dir = os.path.join(table_path, "_delta_log")
    if to_version is None:
        to_version = table_version(table_path)
    base = snapshot(spark, table_path, from_version)  # schema + partitioning
    schema = base.schema
    part_cols = base.partition_columns
    data_fields = [f for f in schema.fields if f.name not in part_cols]
    data_schema = StructType(data_fields)
    field_type = {f.name: f.dataType for f in schema.fields}

    branches = []
    for v in range(from_version + 1, to_version + 1):
        cpath = _commit_path(log_dir, v)
        if not os.path.exists(cpath):
            raise FileNotFoundError(f"missing commit {v} in {log_dir}")
        with open(cpath) as fh:
            commit_actions = [
                json.loads(line) for line in fh if line.strip()
            ]
        # action order within a commit is writer-defined — apply the
        # commit's metaData (if any) before reading its adds
        commit_actions.sort(key=lambda a: 0 if "metaData" in a else 1)
        for action in commit_actions:
            if "remove" in action:
                raise DeltaProtocolError(
                    f"commit {v} removes files — not append-only; "
                    "resnapshot instead of incremental read"
                )
            if "metaData" in action:
                # schema evolution inside the CDC range: adds committed
                # with (or after) the new metaData carry the evolved
                # schema — re-derive the read schema HERE, or the new
                # column's values would silently read as dropped
                base.metadata = action["metaData"]
                schema = base.schema
                part_cols = base.partition_columns
                data_fields = [
                    f for f in schema.fields if f.name not in part_cols
                ]
                data_schema = StructType(data_fields)
                field_type = {f.name: f.dataType for f in schema.fields}
            if "add" not in action:
                continue
            add = action["add"]
            df = spark.read.schema(data_schema).parquet(
                os.path.join(table_path, add["path"])
            )
            for c in part_cols:
                raw = add.get("partitionValues", {}).get(c)
                df = df.withColumn(c, F.lit(raw).cast(field_type[c]))
            branches.append(
                df.select([f.name for f in schema.fields]).withColumn(
                    "_commit_version", F.lit(v).cast("long")
                )
            )
    if not branches:
        empty = spark.createDataFrame([], schema).withColumn(
            "_commit_version", F.lit(None).cast("long")
        )
        return empty
    # allowMissingColumns: pre-evolution batches surface NULL for columns
    # added mid-range (Delta CDF semantics for merge_schema appends)
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), branches
    )


def optimize_delta(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = _TARGET_FILE_BYTES,
    zorder_by: list[str] | None = None,
    sort_by: list[str] | None = None,
) -> dict:
    """OPTIMIZE [ZORDER BY] as a transaction-log commit.

    Plain mode: bin-pack files smaller than ``target_file_bytes`` into
    ~target-sized files (streaming appends and fine-grained partitions
    accumulate small files; scan task count and object-store listing load
    are O(files), so this is routine maintenance at scale). ``sort_by`` /
    ``zorder_by`` rewrite the WHOLE table range-clustered / Morton-
    clustered so per-file min/max stats turn ``read_delta(skip_filters)``
    and ``merge_delta`` into few-file operations.

    The rewrite commits atomically with ``dataChange: false`` on both adds
    and removes — the Delta convention telling incremental/streaming
    consumers that no logical rows changed. Old versions stay time-
    travelable until ``vacuum``.
    """
    if zorder_by and sort_by:
        raise ValueError("choose zorder_by or sort_by, not both")
    snap = snapshot(spark, table_path)
    reorder = bool(zorder_by or sort_by)
    scope = (
        dict(snap.adds)
        if reorder
        else {
            p: a
            for p, a in snap.adds.items()
            if int(a.get("size") or 0) < target_file_bytes
        }
    )
    if not scope or (len(scope) < 2 and not reorder):
        return {
            "version": snap.version,
            "files_removed": 0,
            "files_added": 0,
            "bytes": 0,
        }
    total_bytes = sum(int(a.get("size") or 0) for a in scope.values())
    n_out = _file_count(total_bytes, target_file_bytes)

    df = _df_for_adds(spark, snap, scope)
    if zorder_by:
        from delta_unity_duckdb_spark.operators.zorder import _BITS, _grid_cell, zorder_key

        bounds = df.agg(
            *[F.min(c).alias(f"__min_{c}") for c in zorder_by],
            *[F.max(c).alias(f"__max_{c}") for c in zorder_by],
        )
        with_bounds = df.join(F.broadcast(bounds))
        cells = [
            _grid_cell(F.col(c), F.col(f"__min_{c}"), F.col(f"__max_{c}"), _BITS)
            for c in zorder_by
        ]
        out = (
            with_bounds.withColumn("__zkey", zorder_key(cells, _BITS))
            .drop(*[f"__min_{c}" for c in zorder_by], *[f"__max_{c}" for c in zorder_by])
            .repartitionByRange(n_out, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )
    elif sort_by:
        out = _clustered(df, n_out, sort_by)
    else:
        out = df.repartition(n_out)

    adds = _stage_files(out, table_path, snap.partition_columns, data_change=False)
    ts = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "OPTIMIZE",
                "operationParameters": {
                    "zOrderBy": list(zorder_by or []),
                    "sortBy": list(sort_by or []),
                    "targetFileBytes": target_file_bytes,
                },
                "operationMetrics": {
                    "numRemovedFiles": len(scope),
                    "numAddedFiles": len(adds),
                    "numConsideredFiles": len(snap.adds),
                },
                "engineInfo": "delta_unity_duckdb_spark minimal-writer",
            }
        }
    ]
    for path in scope:
        actions.append(
            {"remove": {"path": path, "deletionTimestamp": ts, "dataChange": False}}
        )
    actions.extend(adds)
    _commit_next(table_path, snap.version, actions)
    return {
        "version": snap.version + 1,
        "files_removed": len(scope),
        "files_added": len(adds),
        "bytes": total_bytes,
    }


def write_checkpoint(spark: SparkSession, table_path: str, version: int | None = None) -> int:
    """Write a parquet checkpoint of the snapshot at ``version`` (default
    latest) and point ``_last_checkpoint`` at it. Readers then replay only
    newer JSON commits — bounding log-replay cost as commits accumulate
    (the log would otherwise grow O(total commits ever)).

    The file is written by pyarrow on the driver in ``_CHECKPOINT_SCHEMA``
    (no Spark job): one action per row, the other action columns null.
    """
    log_dir = os.path.join(table_path, "_delta_log")
    snap = snapshot(spark, table_path, version)
    proto = snap.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = dict(snap.metadata or {})
    fmt = meta.get("format") or {}
    meta["format"] = {"provider": fmt.get("provider", "parquet"), "options": fmt.get("options") or {}}
    rows = [{"protocol": proto}, {"metaData": meta}] + [
        {"add": {**add, "dataChange": bool(add.get("dataChange", True))}}
        for add in snap.adds.values()
    ]
    stage = os.path.join(log_dir, f"_ckpt_stage_{uuid.uuid4().hex[:8]}.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=_CHECKPOINT_SCHEMA), stage)
    final = os.path.join(log_dir, f"{snap.version:0{_COMMIT_DIGITS}d}.checkpoint.parquet")
    os.replace(stage, final)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as fh:
        json.dump({"version": snap.version, "size": len(rows)}, fh)
    return snap.version


def vacuum(spark: SparkSession, table_path: str) -> list[str]:
    """Delete data files no longer referenced by the CURRENT snapshot
    (post-overwrite/compaction garbage). Returns the deleted paths.

    Deliberately more conservative than Delta's retention-window VACUUM:
    time travel to pre-vacuum versions stops working (exactly as it does
    after a real VACUUM passes the retention window) — but concurrent
    readers of the current snapshot are unaffected because the active
    file set is untouched.
    """
    snap = snapshot(spark, table_path)
    live = {os.path.normpath(p) for p in snap.adds}
    deleted: list[str] = []
    for root, dirs, files in os.walk(table_path):
        if "_delta_log" in root.split(os.sep):
            continue
        dirs[:] = [d for d in dirs if d != "_delta_log" and not d.startswith("_staging_")]
        for fname in files:
            full = os.path.join(root, fname)
            rel = os.path.normpath(os.path.relpath(full, table_path))
            if fname.endswith(".parquet") and rel not in live:
                os.remove(full)
                deleted.append(rel)
    return deleted


def convert_to_delta(spark: SparkSession, parquet_path: str) -> int:
    """CONVERT TO DELTA: register existing parquet files into a fresh
    transaction log IN PLACE — no data rewrite, commit 0 simply lists
    them as adds (the standard lakehouse migration; at 100 TB a rewrite
    is days of IO, a log commit is milliseconds per thousand files).
    Hive-style ``k=v`` directories become partition columns.
    """
    if os.path.isdir(os.path.join(parquet_path, "_delta_log")):
        raise ValueError(f"already a Delta table: {parquet_path}")
    data_files: list[tuple[str, dict[str, str]]] = []
    part_cols: list[str] | None = None
    for root, dirs, files in os.walk(parquet_path):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            rel_dir = os.path.relpath(root, parquet_path)
            pvals: dict[str, str] = {}
            if rel_dir != ".":
                for seg in rel_dir.split(os.sep):
                    k, eq, v = seg.partition("=")
                    if eq:
                        pvals[k] = v
            cols = sorted(pvals)
            if part_cols is None:
                part_cols = cols
            elif cols != part_cols:
                raise ValueError(
                    f"inconsistent partition layout: {cols} vs {part_cols}"
                )
            data_files.append(
                (os.path.normpath(os.path.join(rel_dir, fname)), pvals)
            )
    if not data_files:
        raise FileNotFoundError(f"no parquet files under {parquet_path}")
    part_cols = part_cols or []

    # schema from the files (footer-only) + partition cols typed by Spark's
    # directory inference
    inferred = spark.read.option("basePath", parquet_path).parquet(parquet_path)
    schema = inferred.schema

    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "CONVERT",
                "engineInfo": "delta_unity_duckdb_spark minimal-writer",
            }
        },
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": str(uuid.uuid4()),
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _schema_to_string(schema),
                "partitionColumns": part_cols,
                "configuration": {},
                "createdTime": int(time.time() * 1000),
            }
        },
    ]
    for rel, pvals in sorted(data_files):
        full = os.path.join(parquet_path, rel)
        add_action = {
            "path": rel.replace(os.sep, "/"),
            "partitionValues": pvals,
            "size": os.path.getsize(full),
            "modificationTime": int(os.path.getmtime(full) * 1000),
            "dataChange": True,
        }
        stats = _file_stats_json(full)
        if stats:
            add_action["stats"] = stats
        actions.append({"add": add_action})
    os.makedirs(os.path.join(parquet_path, "_delta_log"), exist_ok=True)
    return _commit_next(parquet_path, -1, actions)

def restore_delta(
    spark: SparkSession, table_path: str, version: int
) -> dict:
    """RESTORE TABLE t TO VERSION AS OF v — reset the table's live state to
    an earlier snapshot with ONE metadata commit, no data rewrite (the
    standard lakehouse undo for a bad write; at 100 TB the alternative —
    re-copying the old data — is days of IO, this is milliseconds).

    The new commit removes files added since ``version``, re-adds files
    that version referenced but the current snapshot dropped (their add
    actions, stats included, are replayed verbatim from the old log), and
    restores that version's metaData (schema + partitioning), exactly like
    Delta's RESTORE. History is preserved: the restore is itself a new
    version, and time travel to the pre-restore state still works.

    Fails if any file of the target snapshot has been physically deleted
    (VACUUM) — same contract as Delta Lake's RESTORE.
    """
    cur = snapshot(spark, table_path)
    tgt = snapshot(spark, table_path, version)
    missing = [
        p for p in sorted(tgt.adds)
        if not os.path.exists(os.path.join(table_path, p))
    ]
    if missing:
        raise FileNotFoundError(
            f"cannot RESTORE to version {version}: {len(missing)} data file(s) "
            f"vacuumed, e.g. {missing[0]!r}"
        )

    ts = int(time.time() * 1000)
    to_remove = sorted(set(cur.adds) - set(tgt.adds))
    to_add = sorted(set(tgt.adds) - set(cur.adds))
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": ts,
                "operation": "RESTORE",
                "operationParameters": {"version": version},
                "operationMetrics": {
                    "numRestoredFiles": len(to_add),
                    "numRemovedFiles": len(to_remove),
                },
                "engineInfo": "delta_unity_duckdb_spark minimal-writer",
            }
        },
        {"metaData": tgt.metadata},
    ]
    for path in to_remove:
        actions.append(
            {"remove": {"path": path, "deletionTimestamp": ts, "dataChange": True}}
        )
    for path in to_add:
        add = dict(tgt.adds[path])
        add["dataChange"] = True
        actions.append({"add": add})

    _commit_next(table_path, cur.version, actions)
    return {
        "version": cur.version + 1,
        "restored_to": version,
        "files_added": len(to_add),
        "files_removed": len(to_remove),
    }

def _check_constraints(metadata: dict | None) -> dict[str, str]:
    """CHECK constraints from table configuration (``delta.constraints.<name>``)."""
    if not metadata:
        return {}
    cfg = metadata.get("configuration") or {}
    prefix = "delta.constraints."
    return {k[len(prefix):]: v for k, v in cfg.items() if k.startswith(prefix)}


def _enforce_constraints(df: DataFrame, constraints: dict[str, str]) -> None:
    """Raise if any row violates a CHECK constraint. SQL CHECK semantics:
    a row violates only when the expression is FALSE — NULL passes."""
    for name, expr in constraints.items():
        bad = df.filter(~F.expr(expr)).limit(1).count()
        if bad:
            raise ValueError(
                f"CHECK constraint {name!r} ({expr}) violated by incoming data"
            )


def add_check_constraint(
    spark: SparkSession, table_path: str, name: str, expr: str
) -> int:
    """ALTER TABLE ... ADD CONSTRAINT name CHECK (expr) as a metadata-only
    commit (Delta's table-constraint feature, stored as
    ``delta.constraints.<name>`` in the table configuration; writing a
    constrained table requires writer version 3, which this commit
    declares). Existing rows are validated FIRST — the constraint is
    rejected if current data violates it, exactly like Delta."""
    snap = snapshot(spark, table_path)
    existing = _check_constraints(snap.metadata)
    if name in existing:
        raise ValueError(f"constraint {name!r} already exists")
    _enforce_constraints(read_delta(spark, table_path), {name: expr})

    meta = dict(snap.metadata or {})
    cfg = dict(meta.get("configuration") or {})
    cfg[f"delta.constraints.{name}"] = expr
    meta["configuration"] = cfg
    actions = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "ADD CONSTRAINT",
                "operationParameters": {"name": name, "expr": expr},
                "engineInfo": "delta_unity_duckdb_spark minimal-writer",
            }
        },
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 3}},
        {"metaData": meta},
    ]
    _commit_next(table_path, snap.version, actions)
    return snap.version + 1


def drop_check_constraint(
    spark: SparkSession, table_path: str, name: str
) -> int:
    """ALTER TABLE ... DROP CONSTRAINT name (metadata-only commit)."""
    snap = snapshot(spark, table_path)
    if name not in _check_constraints(snap.metadata):
        raise ValueError(f"no such constraint: {name!r}")
    meta = dict(snap.metadata or {})
    cfg = dict(meta.get("configuration") or {})
    del cfg[f"delta.constraints.{name}"]
    meta["configuration"] = cfg
    actions = [
        {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": "DROP CONSTRAINT",
                "operationParameters": {"name": name},
                "engineInfo": "delta_unity_duckdb_spark minimal-writer",
            }
        },
        {"metaData": meta},
    ]
    _commit_next(table_path, snap.version, actions)
    return snap.version + 1
