"""Incrementally maintained aggregate views over versioned tables.

The lakehouse pattern a full nightly ``GROUP BY`` recompute cannot
afford at 100 TB: a materialized per-key aggregate (count + sums) of a
versioned source table is itself stored as a versioned table and
refreshed from the source's COMPUTED change-data-feed
(:func:`~amaxa_spark.sources.catalog.diff_versioned`), so refresh cost
tracks CHANGE volume — a merge that touched 3 of 4096 source buckets
refreshes from 3 buckets' diffs, never a full scan.

Exactly-once refresh bookkeeping reuses the streaming sink's manifest
machinery: the applied source commit *seq* rides the view's own commit
as a monotonic ``streams`` marker (a stale concurrent refresher is
refused by :class:`~amaxa_spark.sources.catalog.StaleStreamBatch`
inside the CAS loop), and the matching source *token* rides next to it
so the next refresh knows its diff base. Marker + data commit
atomically — a crash leaves either the old view or the new one, never
a half-applied delta.

Aggregate semantics: ``n_rows = count(*)`` and, per value column,
``sum_<c> = sum(coalesce(c, 0))`` — nulls count as zero so the sums
form a group under addition and deletions subtract exactly (a
NULL-correct ``sum()`` is not incrementally maintainable without a
per-column non-null count; callers who need null-vs-zero distinction
should maintain an explicit indicator column). Rows whose group key is
NULL are excluded — the view is keyed by the group column, and the
versioned layout (like any pk-keyed store) cannot key a NULL.

No counterpart in the reference (davidmreed/amaxa has no storage
engine); the shape follows Delta Live Tables / Materialize-style
incremental view maintenance, re-expressed on this repo's own commit
protocol.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import (
    MERGE_BUCKET_COL,
    ConcurrentMergeError,
    StaleStreamBatch,
    _bucket_expr,
    _bucket_manifest,
    _fill_added_columns,
    _read_physical,
    apply_changes_versioned,
    diff_versioned,
    read_versioned_table,
    write_versioned_table,
)


def _agg_exprs(sum_cols: list[str]) -> list:
    return [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.coalesce(F.col(c), F.lit(0))).alias(f"sum_{c}")
        for c in sum_cols
    ]


def _full_aggregate(
    src: DataFrame, group_col: str, sum_cols: list[str]
) -> DataFrame:
    return (
        src.where(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(*_agg_exprs(sum_cols))
    )


def refresh_aggregate_versioned(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    group_col: str,
    sum_cols: list[str],
    n_buckets: int = 64,
    view_id: str | None = None,
) -> dict:
    """Bring the materialized aggregate at ``dst_path`` up to the
    source table's current head. Three paths, cheapest wins:

    - **no-op**: the view's marker already names the head commit;
    - **incremental** (the normal path): diff the source between the
      last-applied token and head, aggregate the CDF into per-key
      deltas (+1 per insert/postimage row, −1 per delete/preimage —
      an update contributes both, so unchanged columns cancel), read
      ONLY the view buckets holding affected keys for the current
      values, and apply absolute new rows — keys whose count reaches
      zero delete — in one atomic CDC-apply commit;
    - **rebuild**: first refresh ever, or the diff base was vacuumed
      away — full aggregate, applied as upserts plus deletes of stale
      view keys (still one commit; rewrites only buckets that differ).

    Returns the view's committed manifest. Safe under races: two
    concurrent refreshers targeting the same source commit serialize
    on the view's CAS chain; the loser surfaces as StaleStreamBatch
    (marker already on the head when it stamped) or
    ConcurrentMergeError (its bucket claim lost the rebase check) and
    returns the winner's head once the head's marker covers the
    source seq — a conflict from an UNRELATED view writer re-raises
    for the caller to retry."""
    src_head = _bucket_manifest(src_path)
    src_token, src_seq = src_head["token"], int(src_head.get("seq", 0))
    sid = view_id or f"matview:{group_col}"
    meta = {
        "streams": {sid: src_seq},
        "matviews": {sid: {"src_token": src_token, "src_path": src_path}},
    }

    try:
        dst_head = _bucket_manifest(dst_path)
    except FileNotFoundError:
        dst_head = None
    if dst_head is None:
        # first build: one full aggregate, then the marker commits on
        # the view's own chain (meta-only; a crash in between leaves a
        # marker-less view, which the next call repairs via rebuild).
        # The read PINS src_token: aggregating whatever head exists at
        # scan time would let a concurrent source merge slip data in
        # that the recorded marker doesn't cover, double-applying its
        # delta on the next refresh.
        agg = _full_aggregate(
            read_versioned_table(spark, src_path, src_token),
            group_col,
            sum_cols,
        )
        write_versioned_table(agg, dst_path, pk=group_col, n_buckets=n_buckets)
        empty = agg.limit(0).withColumn("_change_type", F.lit("insert"))
        return apply_changes_versioned(spark, dst_path, empty, extra_meta=meta)

    applied_seq = dst_head.get("streams", {}).get(sid)
    last = dst_head.get("matviews", {}).get(sid, {})
    if applied_seq is not None and applied_seq >= src_seq:
        return dst_head  # already at (or past) this head

    changes = None
    if applied_seq is not None and last.get("src_token"):
        try:
            cdf = diff_versioned(
                spark, src_path, last["src_token"], src_token
            )
            changes = _delta_rows(
                spark, dst_path, dst_head, cdf, group_col, sum_cols
            )
        except FileNotFoundError:
            changes = None  # diff base vacuumed away: rebuild below
    if changes is None:
        changes = _rebuild_rows(
            spark, src_path, src_token, dst_path, dst_head,
            group_col, sum_cols,
        )
    try:
        # base_token pins the apply to the exact view snapshot the
        # delta/rebuild rows were computed AGAINST — without it the
        # apply would adopt whatever head exists at commit time and
        # silently overwrite an unrelated writer's rows with our
        # stale absolute values instead of conflicting
        return apply_changes_versioned(
            spark, dst_path, changes,
            base_token=dst_head["token"], extra_meta=meta,
        )
    except (StaleStreamBatch, ConcurrentMergeError):
        # Two refreshers racing to the same source commit lose in one
        # of two ways depending on timing: StaleStreamBatch (the
        # winner's marker was already on the head when our CAS loop
        # stamped) or ConcurrentMergeError (both rewrote the same
        # view buckets and our claim lost the rebase check). Either
        # way, if the head's marker now covers our source seq the
        # winner did our work — return its head. If it does NOT, the
        # conflict came from an unrelated writer on the view's chain:
        # re-raise, the caller retries against the new head.
        head = _bucket_manifest(dst_path)
        if head.get("streams", {}).get(sid, -1) >= src_seq:
            return head
        raise


def _delta_rows(
    spark: SparkSession,
    dst_path: str,
    dst_head: dict,
    cdf: DataFrame,
    group_col: str,
    sum_cols: list[str],
) -> DataFrame:
    """CDF → absolute view rows: per-key deltas (sign-weighted counts
    and sums) joined with the CURRENT view values of ONLY the buckets
    holding affected keys — the read cost tracks the change set, not
    the view size."""
    w = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    delta = (
        cdf.where(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.sum(w).alias("__d_n"),
            *[
                F.sum(F.coalesce(F.col(c), F.lit(0)) * w).alias(f"__d_{c}")
                for c in sum_cols
            ],
        )
        # an update that leaves every aggregated column unchanged
        # cancels to an all-zero delta; dropping it keeps untouched
        # view buckets untouched
        .localCheckpoint(eager=True)
    )
    nonzero = F.col("__d_n") != 0
    for c in sum_cols:
        nonzero = nonzero | (F.col(f"__d_{c}") != 0)
    delta = delta.where(nonzero)
    # current values for affected keys, reading only their buckets
    nb = dst_head["n_buckets"]
    aff_buckets = sorted(
        r[0]
        for r in delta.select(
            _bucket_expr(group_col, nb).alias("b")
        ).distinct().collect()
    )  # bounded driver read: at most n_buckets ints
    paths = [
        os.path.join(dst_path, dst_head["buckets"][str(b)], f"{MERGE_BUCKET_COL}={b}")
        for b in aff_buckets
        if str(b) in dst_head["buckets"]
    ]
    if paths:
        cur = _fill_added_columns(
            _read_physical(spark, dst_head, *paths), dst_head
        ).join(delta.select(group_col), group_col, "left_semi")
    else:
        cur = None
    joined = (
        delta
        if cur is None
        else delta.join(cur, group_col, "left_outer")
    )
    zero = F.lit(0)
    new_n = (
        F.coalesce(F.col("n_rows"), zero) + F.col("__d_n")
        if cur is not None
        else F.col("__d_n")
    ).alias("n_rows")
    new_sums = [
        (
            (F.coalesce(F.col(f"sum_{c}"), zero) + F.col(f"__d_{c}"))
            if cur is not None
            else F.col(f"__d_{c}")
        ).alias(f"sum_{c}")
        for c in sum_cols
    ]
    absolute = joined.select(group_col, new_n, *new_sums)
    return absolute.select(
        group_col,
        "n_rows",
        *[f"sum_{c}" for c in sum_cols],
        F.when(F.col("n_rows") <= 0, F.lit("delete"))
        .otherwise(F.lit("insert"))
        .alias("_change_type"),
    )


def _rebuild_rows(
    spark: SparkSession,
    src_path: str,
    src_token: str,
    dst_path: str,
    dst_head: dict,
    group_col: str,
    sum_cols: list[str],
) -> DataFrame:
    """Full-state repair feed: the complete aggregate (of the PINNED
    source snapshot the marker will name) as upserts plus a delete
    for every view key no longer present in the source."""
    agg = _full_aggregate(
        read_versioned_table(spark, src_path, src_token), group_col, sum_cols
    ).localCheckpoint(eager=True)
    cur_keys = read_versioned_table(
        spark, dst_path, dst_head["token"]
    ).select(group_col)
    stale = cur_keys.join(agg.select(group_col), group_col, "left_anti")
    upserts = agg.withColumn("_change_type", F.lit("insert"))
    deletes = stale.select(
        group_col,
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in agg.schema.fields
            if f.name != group_col
        ],
        F.lit("delete").alias("_change_type"),
    )
    return upserts.unionByName(deletes)


def read_aggregate_view(
    spark: SparkSession, dst_path: str, token: str | None = None
) -> DataFrame:
    """Open the materialized aggregate (time-travelable like any
    versioned table), without the internal bucket column."""
    df = read_versioned_table(spark, dst_path, token)
    return df.drop(MERGE_BUCKET_COL)
