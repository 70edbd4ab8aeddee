"""SCD Type 2 merge engine (reference flagship: delta_to_postgres_scd.py:177-267).

Re-expresses the reference's two-statement Postgres upsert —
(1) ``INSERT … ON CONFLICT DO UPDATE`` closing changed current rows,
(2) ``INSERT … ON CONFLICT DO NOTHING`` adding new current rows — as one
declarative DataFrame transformation:

- change detection = OR-chain of null-safe inequality over tracked columns
  (reference ``COALESCE(t.c,'') != COALESCE(s.c,'')``, delta_to_postgres_scd.py:252;
  here null-correct via ``<=>`` — NULL≠'' is a documented divergence),
- unchanged incoming rows are dropped (reference DO-NOTHING semantics),
- at most one current row per business key (reference partial unique index,
  delta_to_postgres_scd.py:232-239) is an invariant checked by
  ``scd2_invariant_violations``.

Scale posture: the merge is a single full-outer join of the current rows
with the batch on the business keys — shuffle-partitioned by key, skew-
handled by AQE, no driver-side collection — and one projection that emits
each joined row's untouched, closed and fresh versions (``inline`` of a
filtered two-element array); history rows pass through unread by the
join. Source batches are deduped on the business keys first (the reference
would violate its unique index on intra-batch dupes; SURVEY.md §7.7-2).
With a Delta-enabled cluster the same plan maps to ``DeltaTable.merge`` +
append; the Parquet-backed ``sync_scd2`` below writes the new state once
into a staging directory and swaps it in (one Spark job, counts observed
on that write), which is the correct local-mode stand-in.

Surrogate key: the reference's ``scd_id SERIAL`` is insertion-ordered;
a distributed engine cannot cheaply maintain a global counter, so the
surrogate is derived deterministically at read time via
``ROW_NUMBER() OVER (ORDER BY business_keys, effective_date)``
(``with_surrogate_key``) — no global sort on the write path.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

SCD_COLS = ("effective_date", "end_date", "is_current", "created_at", "updated_at")


def _any_changed(tracked: Sequence[str], left: str, right: str) -> Column:
    pred = F.lit(False)
    for c in tracked:
        pred = pred | ~(F.col(f"{left}.{c}").eqNullSafe(F.col(f"{right}.{c}")))
    return pred


def scd2_apply(
    target: DataFrame | None,
    source: DataFrame,
    business_keys: Sequence[str],
    tracked_cols: Sequence[str],
    effective_ts: Column,
    column_mapping: dict[str, str] | None = None,
) -> DataFrame:
    """Pure SCD2 transition: (previous target state, source batch) → new state.

    ``column_mapping`` renames source columns first (reference
    delta_to_postgres_scd.py:285-298).
    """
    if column_mapping:
        source = source.withColumnsRenamed(column_mapping)

    business_keys = list(business_keys)
    tracked_cols = list(tracked_cols)
    payload_cols = business_keys + tracked_cols

    # Intra-batch dedup on keys: keep an arbitrary-but-deterministic first row.
    w = Window.partitionBy(*business_keys).orderBy(*tracked_cols)
    source = (
        source.select(*payload_cols)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    def fresh(prefix: str) -> list[Column]:
        """An incoming row as a new current version."""
        return [
            *[F.col(f"{prefix}{c}").alias(c) for c in payload_cols],
            effective_ts.alias("effective_date"),
            F.lit(None).cast("timestamp").alias("end_date"),
            F.lit(True).alias("is_current"),
            effective_ts.alias("created_at"),
            effective_ts.alias("updated_at"),
        ]

    if target is None:
        return source.select(*fresh(""))

    cur_present = F.col(f"cur.{business_keys[0]}").isNotNull()
    src_present = F.col(f"src.{business_keys[0]}").isNotNull()
    closing = cur_present & src_present & _any_changed(tracked_cols, "cur", "src")
    # Per joined row, up to two output rows: the current row (untouched, or
    # closed when the incoming row differs — reference stmt 1) and the
    # incoming row as the new current version (new key, or changed —
    # reference stmt 2; DO NOTHING drops unchanged incoming rows).
    cur_row = F.when(
        cur_present,
        F.struct(
            *[F.col(f"cur.{c}").alias(c) for c in payload_cols],
            F.col("cur.effective_date").alias("effective_date"),
            F.when(closing, effective_ts).otherwise(F.col("cur.end_date")).alias("end_date"),
            (~closing).alias("is_current"),
            F.col("cur.created_at").alias("created_at"),
            F.when(closing, effective_ts).otherwise(F.col("cur.updated_at")).alias("updated_at"),
        ),
    )
    fresh_row = F.when(src_present & (closing | ~cur_present), F.struct(*fresh("src.")))
    key_eq = [F.col(f"cur.{k}") == F.col(f"src.{k}") for k in business_keys]
    versions = (
        target.filter(F.col("is_current"))
        .alias("cur")
        .join(source.alias("src"), on=key_eq, how="full_outer")
        .select(F.inline(F.filter(F.array(cur_row, fresh_row), lambda r: r.isNotNull())))
    )
    cols = payload_cols + list(SCD_COLS)
    return target.filter(~F.col("is_current")).select(*cols).unionByName(versions)


def with_surrogate_key(scd: DataFrame, business_keys: Sequence[str]) -> DataFrame:
    """Deterministic surrogate key (reference ``scd_id SERIAL``,
    delta_to_postgres_scd.py:144)."""
    w = Window.orderBy(*business_keys, "effective_date")
    return scd.withColumn("scd_id", F.row_number().over(w).cast("long"))


def sync_scd2(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    business_keys: Sequence[str],
    tracked_cols: Sequence[str],
    effective_ts: Column | None = None,
    column_mapping: dict[str, str] | None = None,
) -> dict:
    """Materializing sync (reference orchestrator delta_to_postgres_scd.py:269-337).

    Reads the Parquet target if present, applies the SCD2 transition and
    writes the new state once, into a sibling staging directory that then
    replaces the target by rename. One Spark job: the target is read with
    the schema this sync writes (no footer-inference job), and the summary
    counts are observed metrics of that same write. A failed write leaves
    the previous target as it was and removes the staging directory.
    """
    effective_ts = effective_ts if effective_ts is not None else F.current_timestamp()
    args = (business_keys, tracked_cols, effective_ts, column_mapping)
    result = scd2_apply(None, source, *args)
    if os.path.exists(target_path):
        target = spark.read.schema(result.schema).parquet(target_path)
        result = scd2_apply(target, source, *args)
    counts = Observation()
    result = result.observe(
        counts,
        F.count(F.lit(1)).alias("total_rows"),
        F.count_if(F.col("is_current")).alias("current_rows"),
    )
    base = os.path.normpath(target_path)
    token = uuid.uuid4().hex[:12]
    staging, retired = f"{base}._staging_{token}", f"{base}._retired_{token}"
    try:
        result.write.parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if os.path.exists(base):
        os.rename(base, retired)
    os.rename(staging, base)
    shutil.rmtree(retired, ignore_errors=True)
    return {"target_path": target_path, **counts.get}


def scd2_invariant_violations(scd: DataFrame, business_keys: Sequence[str]) -> dict:
    """Invariant checks mirroring the reference's post-sync verification
    (test_pg_query.py:42-78): one current row per key; end_date IS NULL ⇔
    is_current. Returns violation counts (all zero when healthy)."""
    dup_current = (
        scd.filter(F.col("is_current"))
        .groupBy(*business_keys)
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    bad_end_date = scd.filter(
        (F.col("is_current") & F.col("end_date").isNotNull())
        | (~F.col("is_current") & F.col("end_date").isNull())
    ).count()
    return {"duplicate_current_keys": dup_current, "end_date_mismatches": bad_end_date}
