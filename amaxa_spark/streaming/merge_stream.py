"""Streaming upsert sink onto the versioned bucket layout — the
Delta-streaming-sink twin built on the engine's own commit protocol.

A TRUE upsert by default: matched keys update, UNMATCHED keys INSERT
as new rows (pk + set_cols, NULL elsewhere) — a stream of brand-new
entities lands, it is not silently dropped. Pass
``not_matched="ignore"`` for update-only semantics (unmatched keys
are then discarded by design, with the batch's progress marker still
committed).

``foreachBatch`` is the right integration point (exactly how Delta's
own MERGE-from-stream is written): each micro-batch's rows reduce to
at most one update per primary key and then run through the SAME
:func:`catalog.merge_into_versioned` the batch path uses, so every
micro-batch lands as one atomic chain commit — readers only ever see
whole micro-batches, crashes leave invisible orphans, and the chain's
seq history doubles as the stream's progress ledger (one commit per
non-empty batch).

Delivery semantics: EXACTLY-ONCE when a ``stream_id`` is supplied —
each commit pins the stream's ``batchId`` into the manifest
(``streams: {stream_id: last_batch_id}``) inside the SAME atomic
commit as the data, so a replayed micro-batch (restart from an old
checkpoint, foreachBatch retry) is recognized and skipped: the
progress marker and the data can never disagree. Without a stream_id
the sink is at-least-once — a replayed batch re-applies the same
per-key LAST values, which is idempotent on the data (the superseded
generation ages out via vacuum). The streams map deep-merges through
commit rebases, so independent streams writing one table never
clobber each other's progress.

Scale shape: each micro-batch shuffles only its own rows (one per-key
window over the batch, never over history), and the merge rewrites
only the buckets the batch touches — steady-state cost tracks update
traffic, not table size. Contention with concurrent writers follows
the CAS rules; a conflicting merge raises ``ConcurrentMergeError``
into the stream (fail-and-restart replays the batch: at-least-once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from amaxa_spark.sources.catalog import (
    ConcurrentMergeError,
    StaleStreamBatch,
    _bucket_manifest,
    _db_manifest,
    apply_changes_versioned,
    merge_into_versioned,
    merge_into_versioned_db,
)


from pyspark.sql import types as _T

_UNORDERABLE_TYPES = tuple(
    t
    for t in (
        _T.MapType,
        getattr(_T, "CalendarIntervalType", None),
        getattr(_T, "VariantType", None),  # Spark-4-only
    )
    if t is not None
)


def _is_orderable(dtype) -> bool:
    """Spark's orderability rule, applied recursively: maps, calendar
    intervals, and variants are not orderable, and neither is any
    array/struct CONTAINING one."""
    from pyspark.sql import types as T

    if isinstance(dtype, _UNORDERABLE_TYPES):
        return False
    if isinstance(dtype, T.ArrayType):
        return _is_orderable(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return all(_is_orderable(f.dataType) for f in dtype.fields)
    return True


def _orderable_expr(field):
    """A deterministic sort expression for a tiebreak column, or None
    when no such expression exists. Plain orderable columns sort as
    themselves; a TOP-LEVEL map with orderable keys/values sorts by
    its sorted entry list (``sort_array(map_entries(c))``) so rows
    differing only in the map still reduce deterministically; only
    deeply-nested maps (a map inside an array/struct) are skipped —
    there is no composable ordering for those, and failing the stream
    over them would be worse."""
    from pyspark.sql.types import MapType, StructField, StructType

    dt = field.dataType
    if _is_orderable(dt):
        return F.col(field.name)
    if isinstance(dt, MapType) and _is_orderable(
        StructType(
            [StructField("k", dt.keyType), StructField("v", dt.valueType)]
        )
    ):
        return F.sort_array(F.map_entries(F.col(field.name)))
    return None


def latest_per_key(
    batch: DataFrame, pk: str, order_col: str, tiebreak_col: str | None = None
) -> DataFrame:
    """Reduce a micro-batch to its LAST update per key (deterministic
    (order_col, tiebreak) order) — MERGE requires at most one update
    row per pk, and within one batch the last write wins, exactly like
    replaying the batch row-by-row would.

    Without ``tiebreak_col`` the tiebreak falls back to ALL remaining
    columns (descending) — row_number over a non-unique order would
    pick an arbitrary row among equal ``order_col`` values, and a
    foreachBatch retry could then commit a DIFFERENT value than the
    first attempt, breaking the at-least-once "replay is idempotent on
    the data" contract. The all-column order makes the pick a pure
    function of the batch's row multiset."""
    order = [F.col(order_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    else:
        order.extend(
            expr.desc()
            for f in batch.schema.fields
            if f.name not in (pk, order_col)
            for expr in [_orderable_expr(f)]
            if expr is not None
        )
    w = Window.partitionBy(pk).orderBy(*order)
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_batch(
    spark,
    path: str,
    batch: DataFrame,
    pk: str,
    set_cols: list[str],
    order_col: str,
    tiebreak_col: str | None = None,
    stream_id: str | None = None,
    batch_id: int | None = None,
    not_matched: str = "insert",
    merge_retries: int = 0,
) -> dict | None:
    """Apply one micro-batch as one atomic MERGE commit; returns the
    new manifest, or None for an empty or ALREADY-COMMITTED batch.
    With ``stream_id`` + ``batch_id``, progress rides in the commit
    manifest and replays of committed batch ids are skipped
    (exactly-once). This is the body ``foreachBatch`` runs.
    ``not_matched="insert"`` (default) makes unmatched keys new rows;
    ``"ignore"`` drops them (update-only).

    ``merge_retries``: bounded IN-PLACE retries of the merge on
    :class:`ConcurrentMergeError` (a racing rewrite, RENAME, or DV
    delete). Each retry re-reads the fresh head, which is exactly
    what a stream restart would do — minus the restart — and the
    monotonic marker still refuses stale replays. Default 0 keeps
    the documented fail-and-restart contract.

    FOOTGUN (same as Delta's txnAppId/txnVersion): batch ids belong
    to a CHECKPOINT. Pointing an old ``stream_id`` at a new or
    cleared checkpoint restarts batch ids at 0, and genuinely new
    batches would be skipped as replays — a new checkpoint needs a
    NEW stream_id."""
    extra = None
    if stream_id is not None and batch_id is not None:
        # cheap pre-check: skip before paying the bucket rewrite. The
        # AUTHORITATIVE guard lives inside the commit loop (the
        # manifest's streams map is monotonic per stream; committing
        # at-or-below the head's marker raises StaleStreamBatch even
        # if this pre-read was stale — the failover TOCTOU)
        done = _bucket_manifest(path).get("streams", {}).get(stream_id)
        if done is not None and batch_id <= done:
            return None
        extra = {"streams": {stream_id: batch_id}}
    upd = latest_per_key(batch, pk, order_col, tiebreak_col).select(
        pk, *set_cols
    )
    if not upd.take(1):
        # EMPTY batches commit nothing — not even a marker: an idle
        # exactly-once stream must not append one chain commit per
        # trigger, and an empty batch's replay is indistinguishable
        # from the original (both no-ops). A NON-empty batch whose
        # keys all miss the table still advances its marker below
        # (metadata-only commit inside merge_into_versioned).
        return None
    attempts = 0
    while True:
        try:
            return merge_into_versioned(
                spark, path, upd, pk=pk, set_cols=set_cols,
                extra_meta=extra, not_matched=not_matched,
            )
        except StaleStreamBatch:
            # a failed-over twin committed this batch while we were
            # writing; our generation is an invisible orphan (vacuumed)
            return None
        except ConcurrentMergeError:
            if attempts >= merge_retries:
                raise
            attempts += 1


def upsert_db_batch(
    spark,
    path: str,
    batches: dict[str, DataFrame],
    set_cols: dict[str, list[str]],
    order_col: str | dict[str, str],
    tiebreak_col: str | dict[str, str] | None = None,
    stream_id: str | None = None,
    batch_id: int | None = None,
    not_matched: str = "insert",
    merge_retries: int = 0,
) -> dict | None:
    """The multi-table twin of :func:`upsert_batch`: one micro-batch
    routed across SEVERAL tables of a versioned database lands as ONE
    transaction — a reader can never observe the batch applied to one
    table but not another (the whole point of the db layout; ordered
    multi-object loads are the reference's core shape). Per-table pks
    come from the manifest; each table's slice reduces to last-write-
    wins per key first. Returns the new manifest, or None for an
    empty or already-committed batch.

    Exactly-once mirrors the single-table sink: with ``stream_id`` +
    ``batch_id`` the marker rides in the SAME transaction as every
    table's data (one ``streams`` map for the whole database — a
    db-level stream is ONE stream, not one per table), monotonic
    inside the commit loop, so a failed-over twin's stale replay is
    refused no matter which tables it touches. The same
    new-checkpoint-needs-new-stream_id footgun applies."""
    manifest = _db_manifest(path)  # one chain-head read serves both
    extra = None
    if stream_id is not None and batch_id is not None:
        # cheap pre-check only; the authoritative monotonic guard runs
        # inside the commit loop against the exact head being extended
        done = manifest.get("streams", {}).get(stream_id)
        if done is not None and batch_id <= done:
            return None
        extra = {"streams": {stream_id: batch_id}}
    updates: dict[str, DataFrame] = {}
    for name, batch in batches.items():
        t = manifest["tables"].get(name)
        if t is None:
            raise ValueError(
                f"{path}: no table {name!r} in this snapshot "
                f"(has: {sorted(manifest['tables'])})"
            )
        oc = order_col[name] if isinstance(order_col, dict) else order_col
        tb = (
            tiebreak_col.get(name)
            if isinstance(tiebreak_col, dict)
            else tiebreak_col
        )
        upd = latest_per_key(batch, t["pk"], oc, tb).select(
            t["pk"], *set_cols[name]
        )
        if upd.take(1):
            updates[name] = upd
    if not updates:
        # an all-empty batch commits nothing, marker included (same
        # idle-stream contract as the single-table sink)
        return None
    attempts = 0
    while True:
        try:
            return merge_into_versioned_db(
                spark, path, updates,
                set_cols={n: set_cols[n] for n in updates},
                extra_meta=extra, not_matched=not_matched,
            )
        except StaleStreamBatch:
            # a failed-over twin committed this batch while we were
            # writing; our generations are invisible orphans (vacuumed)
            return None
        except ConcurrentMergeError:
            # same bounded in-place retry contract as upsert_batch
            if attempts >= merge_retries:
                raise
            attempts += 1


def apply_changes_batch(
    spark,
    path: str,
    batch: DataFrame,
    order_col: str | None = None,
    tiebreak_col: str | None = None,
    stream_id: str | None = None,
    batch_id: int | None = None,
) -> dict | None:
    """Streaming CDC replication body: apply one micro-batch of a
    change feed (the ``_change_type`` contract) as ONE atomic commit —
    continuous replication of a versioned table from a stream of
    diffs. Returns the new manifest, or None for an empty or
    already-committed batch.

    A micro-batch may span several source commits and so carry SEVERAL
    changes for one key; pass ``order_col`` (e.g. the source seq the
    feed producer stamps) and the batch collapses to each key's LAST
    action first — exactly the state replaying the changes one by one
    would reach, because every action carries the full row (a
    post-image) or is a delete; intermediate actions are superseded,
    not composed. Without ``order_col`` the batch must already hold at
    most one action per key (one source diff — the apply's duplicate
    and delete-vs-post-image guards raise otherwise).
    ``update_preimage`` rows are informational and dropped before
    collapsing; an ``order_col`` that is itself a table column (e.g. a
    natural ``updated_at``) is kept, anything else is stripped after
    the collapse.

    Exactly-once mirrors :func:`upsert_batch`: with ``stream_id`` +
    ``batch_id`` the marker rides in the same commit and committed
    replays are skipped; the same new-checkpoint-needs-new-stream_id
    footgun applies."""
    from pyspark import StorageLevel

    manifest = _bucket_manifest(path)  # one chain-head read serves all
    extra = None
    if stream_id is not None and batch_id is not None:
        # cheap pre-check; the authoritative monotonic guard runs
        # inside the commit loop (StaleStreamBatch on stale replays)
        done = manifest.get("streams", {}).get(stream_id)
        if done is not None and batch_id <= done:
            return None
        extra = {"streams": {stream_id: batch_id}}
    pk = manifest["pk"]
    # keep NULL change types flowing through: the apply's validation
    # raises on them (a bare != would silently drop NULL rows)
    actions = batch.where(
        F.col("_change_type").isNull()
        | (F.col("_change_type") != "update_preimage")
    )
    # materialize once: the validations, the emptiness probe, and the
    # apply (which persists its own filtered view FROM this cache, not
    # by recomputing the upstream diff plan) all act on the same bytes
    cached = actions.persist(StorageLevel.DISK_ONLY)
    actions = cached
    try:
        if order_col is not None:
            # malformed rows must fail the batch even when a later
            # action for the same key would collapse them away — the
            # signal of a broken feed producer, not a superseded row.
            # ONE aggregate carries the batch row count AND the
            # malformed-row sample (the old shape paid a limit(1)
            # probe — 2 executeTake jobs when clean — plus a take(1)
            # emptiness probe per micro-batch); collapse keeps ≥1 row
            # per key, so pre-collapse emptiness decides the
            # post-collapse take as well.
            _NULLTYPE = "\x00<null>"
            bad_t = F.col("_change_type").isNull() | ~F.col(
                "_change_type"
            ).isin("insert", "delete", "update_postimage")
            probe = actions.agg(
                F.count(F.lit(1)).alias("n"),
                F.min(
                    F.when(
                        bad_t,
                        F.coalesce(F.col("_change_type"), F.lit(_NULLTYPE)),
                    )
                ).alias("bad"),
            ).collect()[0]
            if probe["bad"] is not None:
                bad = None if probe["bad"] == _NULLTYPE else probe["bad"]
                raise ValueError(
                    f"unknown _change_type {bad!r} "
                    "in the micro-batch; refusing to collapse it away"
                )
            if probe["n"] == 0:
                # empty batches commit nothing, marker included
                # (idle-stream contract shared with upsert_batch)
                return None
            actions = latest_per_key(actions, pk, order_col, tiebreak_col)
            if not _is_table_column(manifest, order_col, path):
                # a producer-stamped seq is feed plumbing, not data; a
                # natural table column (updated_at) replicates as-is
                actions = actions.drop(order_col)
        elif not actions.take(1):
            # empty batches commit nothing, marker included
            # (idle-stream contract shared with upsert_batch)
            return None
        return apply_changes_versioned(
            spark, path, actions, extra_meta=extra
        )
    except StaleStreamBatch:
        # a failed-over twin committed this batch while we were
        # writing; our generation is an invisible orphan (vacuumed)
        return None
    finally:
        cached.unpersist(blocking=False)


def _is_table_column(
    manifest: dict, col: str, path: str | None = None
) -> bool:
    """Whether ``col`` is part of the table's logical schema (recorded
    init columns plus ALTER-added ones). Pre-format manifests recorded
    no columns — for those, fall back to the PHYSICAL schema of one
    existing bucket via ``catalog._footer_columns`` (one pyarrow
    footer, no SparkSession, no per-batch schema-inference job):
    dropping a genuine table column there (e.g. a natural
    ``updated_at`` used as order_col) would make the apply fail its
    column-set check on every retry and stick the stream. A
    pre-format manifest with zero buckets has no schema anywhere —
    producer-seq reading (False)."""
    import json
    import os

    cols = set(manifest.get("added_columns", {}))
    sj = manifest.get("schema_json")
    if sj is not None:
        cols.update(f["name"] for f in json.loads(sj)["fields"])
    elif manifest.get("columns"):
        cols.update(manifest["columns"])
    elif path is not None and manifest.get("buckets"):
        from amaxa_spark.sources.catalog import (
            MERGE_BUCKET_COL,
            _footer_columns,
        )

        b, gen = next(iter(sorted(manifest["buckets"].items())))
        leaf = os.path.join(path, gen, f"{MERGE_BUCKET_COL}={b}")
        try:
            cols.update(_footer_columns(leaf))
        except FileNotFoundError as e:
            # _footer_columns' generic hint does not name this path's
            # remediation — say it
            raise FileNotFoundError(
                f"{leaf}: cannot resolve this pre-format table's "
                "schema (registered bucket without a readable parquet "
                "footer); re-initialize the table with "
                "write_versioned_table to record its schema"
            ) from e
    return col in cols


def apply_changes_stream_writer(
    stream: DataFrame,
    path: str,
    order_col: str | None = None,
    tiebreak_col: str | None = None,
    checkpoint_dir: str | None = None,
    stream_id: str | None = None,
):
    """Wire a change-feed stream to a versioned replica: each
    micro-batch of ``_change_type`` rows applies as one atomic commit
    (:func:`apply_changes_batch`). Returns the ``DataStreamWriter``
    (caller starts/stops it); pass ``stream_id`` for exactly-once
    replay protection."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_changes_batch(
            batch.sparkSession, path, batch, order_col, tiebreak_col,
            stream_id=stream_id, batch_id=batch_id,
        )

    w = stream.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w


def merge_stream_db_writer(
    stream: DataFrame,
    path: str,
    route,
    set_cols: dict[str, list[str]],
    order_col: str | dict[str, str],
    tiebreak_col: str | dict[str, str] | None = None,
    checkpoint_dir: str | None = None,
    stream_id: str | None = None,
    not_matched: str = "insert",
):
    """Wire ONE streaming DataFrame to a versioned database:
    ``route(batch_df) -> {table: DataFrame}`` splits each micro-batch
    into per-table update frames (filter + project per target), and
    the whole routed batch commits as one transaction. Returns the
    ``DataStreamWriter`` (caller starts/stops it)."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        upsert_db_batch(
            batch.sparkSession, path, route(batch), set_cols,
            order_col, tiebreak_col,
            stream_id=stream_id, batch_id=batch_id,
            not_matched=not_matched,
        )

    w = stream.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w


def merge_stream_writer(
    stream: DataFrame,
    path: str,
    pk: str,
    set_cols: list[str],
    order_col: str,
    tiebreak_col: str | None = None,
    checkpoint_dir: str | None = None,
    stream_id: str | None = None,
    not_matched: str = "insert",
    optimize_every: int | None = None,
    optimize_max_files: int = 4,
    merge_retries: int = 0,
):
    """Wire a streaming DataFrame to the versioned table: returns the
    ``DataStreamWriter`` (caller starts/stops it). Each micro-batch
    commits atomically through the chain; pass ``stream_id`` for
    exactly-once replay protection. Unmatched keys insert by default
    (``not_matched="ignore"`` for update-only).

    ``optimize_every=N`` turns on AUTO-COMPACTION: after every Nth
    micro-batch the sink runs
    :func:`catalog.optimize_versioned(max_files=optimize_max_files)`
    — the steady-state companion of bucket-scoped streaming MERGE,
    which otherwise accumulates one small file per task per touched
    bucket per batch until scans drown in open/footer costs. The
    compaction is its OWN commit (data durability never waits on it);
    it only rewrites buckets fragmented past ``optimize_max_files``;
    and a concurrent-writer conflict (merge racing the compaction)
    aborts the compaction attempt silently — the next trigger retries.
    Replayed (skipped) batches do not trigger it."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from amaxa_spark.sources.catalog import (
            ConcurrentMergeError,
            optimize_versioned,
        )

        applied = upsert_batch(
            batch.sparkSession, path, batch, pk, set_cols,
            order_col, tiebreak_col,
            stream_id=stream_id, batch_id=batch_id,
            not_matched=not_matched, merge_retries=merge_retries,
        )
        if (
            optimize_every
            and applied is not None
            and batch_id % optimize_every == optimize_every - 1
        ):
            try:
                optimize_versioned(
                    batch.sparkSession, path,
                    max_files=optimize_max_files,
                )
            except ConcurrentMergeError:
                pass  # another writer moved the bucket: retry next Nth

    w = stream.writeStream.foreachBatch(_apply).outputMode("update")
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w
