"""Table catalog — the engine's "org".

Where the reference talks to a live Salesforce org through Bulk/REST
APIs (`/root/reference/amaxa/api.py`), this engine reads and writes
Spark-native sources. A :class:`TableCatalog` maps table name → a lazily
loaded DataFrame from a directory of per-table files (parquet by
default, csv/json supported), and provides the extract/load sinks
(SURVEY §2.1 S6–S8): per-table CSV outputs with `Id`-first sorted
headers, result (ID-map + error) sinks, and parquet sinks for
loaded tables.

Reads are lazy — Catalyst pushes projections and predicates into the
scan, so a step that selects 3 columns with a filter reads only those
column chunks (check with ``df.explain``: PushedFilters / ReadSchema).
"""

from __future__ import annotations

import os
import re
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class TableCatalog:
    """name → DataFrame over a base directory of table files."""

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        fmt: str = "parquet",
        extra: dict[str, DataFrame] | None = None,
    ):
        self.spark = spark
        self.base_dir = base_dir
        self.fmt = fmt
        self._cache: dict[str, DataFrame] = dict(extra or {})

    def register(self, name: str, df: DataFrame) -> None:
        self._cache[name] = df

    def path_for(self, name: str) -> str:
        ext = {"parquet": ".parquet", "csv": ".csv", "json": ".json"}[self.fmt]
        return os.path.join(self.base_dir, name + ext)

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            path = self.path_for(name)
            if self.fmt == "parquet":
                df = self.spark.read.parquet(path)
            elif self.fmt == "csv":
                # reference parity: CSV values are all strings
                # (`amaxa/loader/load_operation.py:83-101`)
                df = self.spark.read.option("header", True).csv(path)
            else:
                df = self.spark.read.json(path)
            self._cache[name] = df
        return self._cache[name]

    def __getitem__(self, name: str) -> DataFrame:
        return self.table(name)


def bucketize(
    spark: SparkSession,
    catalog: "TableCatalog",
    spec: dict[str, tuple[str, int]],
    suffix: str = "_bkt",
) -> "TableCatalog":
    """Materialize bucketed managed-table copies of catalog tables and
    return a catalog that resolves those names to the bucketed layout
    (unlisted tables still resolve to the original files).

    ``spec`` maps table name → (bucket column, bucket count). Extract
    plans run unchanged over the returned catalog, but every join or
    aggregation keyed on a table's bucket column skips its shuffle:
    the scan is already hash-partitioned by the key, which Catalyst
    reads from the table metadata. This is the co-location lever for
    repeated FK traversals at 100 TB — pay one shuffle at layout time,
    not one per query. Bucket counts should target ~128 MB per bucket
    file at the deployed scale.
    """
    out = TableCatalog(spark, catalog.base_dir, catalog.fmt)
    for name, (key, n_buckets) in spec.items():
        tbl = f"{name}{suffix}"
        catalog[name].write.bucketBy(n_buckets, key).sortBy(key).mode(
            "overwrite"
        ).saveAsTable(tbl)
        out.register(name, spark.table(tbl))
    return out


def bucket_spec_for_operation(
    registry, step_order: list[str], n_buckets: int = 64, by: str = "pk"
) -> dict[str, tuple[str, int]]:
    """Derive a :func:`bucketize` spec from an operation's FK graph.

    ``by="pk"`` (default) buckets every table on its primary key: the
    engine's hot paths — ID-frame distinct, dependency semi-joins, and
    the final row reconstruction join — are all keyed on pk, so the
    big table side never shuffles for them. ``by="fk"`` buckets each
    table on its first descendent lookup instead (root tables still
    use pk): the right layout when extracted-ID frames are too large
    to broadcast, making the J1 child probe the dominant shuffle. A
    table gets exactly one physical layout, so chains (customer ←
    orders ← lineitem) can't co-locate both of a middle table's roles
    — pick the axis that matches the operation's biggest join.
    """
    spec: dict[str, tuple[str, int]] = {}
    classification = registry.classify_lookups(step_order)
    for table in step_order:
        key = registry[table].pk
        if by == "fk":
            desc = sorted(classification[table].descendent_lookups)
            if desc:
                key = desc[0]
        spec[table] = (key, n_buckets)
    return spec


def register_views(catalog: "TableCatalog", tables: list[str]) -> None:
    """Expose catalog tables as temp views so users can `spark.sql`
    directly over the engine's catalog (Catalyst produces the same
    plans either way)."""
    for name in tables:
        catalog[name].createOrReplaceTempView(name)


def ordered_output_columns(columns: list[str], pk: str = "Id") -> list[str]:
    """Extract-sink header order: alphabetical with the PK forced first
    (reference `/root/reference/amaxa/loader/extract_operation.py:139-145`)."""
    rest = sorted(c for c in columns if c != pk)
    return ([pk] if pk in columns else []) + rest


def write_extract_csv(
    df: DataFrame,
    path: str,
    pk: str = "Id",
    single_file: bool = False,
    write_options: dict | None = None,
) -> None:
    """CSV extract sink (S6). ``single_file`` coalesces for small
    reference-parity outputs; at scale leave it False so each task
    writes its own part file. ``write_options`` carries advisory knobs
    (e.g. ``maxRecordsPerFile`` from `bulk-api-batch-size`)."""
    cols = ordered_output_columns(df.columns, pk)
    out = df.select(*cols)
    if single_file:
        out = out.coalesce(1)
    w = out.write.mode("overwrite").option("header", True)
    for k, v in (write_options or {}).items():
        w = w.option(k, v)
    w.csv(path)


MANIFEST_NAME = "_MANIFEST.json"
HISTORY_DIR = ".manifests"


def atomic_extract_write(
    outputs: dict[str, DataFrame],
    out_dir: str,
    pk: str | dict[str, str] = "Id",
    single_file: bool = False,
    record_counts: bool = False,
) -> dict:
    """Atomic multi-table extract commit (manifest protocol).

    The reference writes one CSV per sObject as it streams and leaves
    partial files behind on failure (`/root/reference/amaxa/loader/
    extract_operation.py:125-158`); a resumed run appends. At cluster
    scale a multi-table extract must instead be all-or-nothing: a
    consumer must never see table A from the new run next to table B
    from the old one.

    Protocol (rename-free, object-store friendly):

    1. every table is written under a fresh generation token,
       ``<out_dir>/<table>-<token>.csv`` — unique names, so no task
       ever overwrites a committed file and no directory rename is
       needed (renames are copies on S3-style stores);
    2. only after *every* table write succeeds, ``_MANIFEST.json`` is
       published via write-temp + ``os.replace`` (atomic on POSIX) —
       the manifest IS the commit: it names the token and per-table
       paths;
    3. readers (:func:`read_committed_extract`) resolve paths through
       the manifest only. A crashed run leaves orphan data files but
       no manifest update — invisible. Re-publishing replaces the
       manifest in one atomic step (snapshot isolation, last writer
       wins); superseded generations are reclaimed by
       :func:`vacuum_extract`.

    ``record_counts=True`` adds per-table row counts to the manifest
    (one extra count job per table — skip at 100 TB unless audit
    requires it). Returns the manifest dict.
    """
    import json
    import uuid

    token = uuid.uuid4().hex[:12]
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, dict] = {}
    try:
        for name, df in outputs.items():
            rel = f"{name}-{token}.csv"
            table_pk = pk.get(name, "Id") if isinstance(pk, dict) else pk
            write_extract_csv(
                df, os.path.join(out_dir, rel), pk=table_pk, single_file=single_file
            )
            entry: dict = {"path": rel}
            if record_counts:
                entry["rows"] = df.count()
            tables[name] = entry
    except Exception:
        # best-effort reclaim of this generation's partial output;
        # the previous manifest (if any) is untouched either way
        import shutil

        for name in outputs:
            shutil.rmtree(
                os.path.join(out_dir, f"{name}-{token}.csv"), ignore_errors=True
            )
        raise
    manifest = {"token": token, "format": "csv", "pk": pk, "tables": tables}
    _publish_manifest(out_dir, manifest)
    return manifest


def _publish_manifest(out_dir: str, manifest: dict) -> None:
    """Commit a generation: history record first (enables time
    travel), live pointer last via write-temp + ``os.replace`` (the
    atomic commit). A crash between the two leaves a readable
    generation in history that never became current — harmless."""
    import json
    import time

    manifest["committed_at"] = time.time()
    token = manifest["token"]
    hist_dir = os.path.join(out_dir, HISTORY_DIR)
    os.makedirs(hist_dir, exist_ok=True)
    with open(os.path.join(hist_dir, f"{token}.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    tmp = os.path.join(out_dir, f".{MANIFEST_NAME}.{token}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out_dir, MANIFEST_NAME))


def atomic_load_publish(
    outputs: dict[str, DataFrame],
    out_dir: str,
    record_counts: bool = False,
    write_options: dict[str, dict] | None = None,
) -> dict:
    """All-or-nothing publication of LOADED tables — the load-side
    twin of :func:`atomic_extract_write`. A multi-table load that
    dies after writing table A but before table B must not leave a
    half-replayed target visible: tables land as parquet under a
    fresh generation token and the manifest publish is the single
    atomic commit. Readers (:func:`read_committed_extract`) and
    retention (:func:`vacuum_extract`, time travel) work unchanged —
    the manifest records ``format: parquet``.
    """
    import json  # noqa: F401  (parity with extract path)
    import uuid

    token = uuid.uuid4().hex[:12]
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, dict] = {}
    try:
        for name, df in outputs.items():
            rel = f"{name}-{token}.parquet"
            full = os.path.join(out_dir, rel)
            w = df.write.mode("errorifexists")
            for k, v in ((write_options or {}).get(name) or {}).items():
                w = w.option(k, v)
            w.parquet(full)
            entry: dict = {"path": rel}
            if record_counts:
                # count the parquet just written (footer metadata) —
                # re-counting df would re-execute the whole load
                # lineage a second time per table
                entry["rows"] = df.sparkSession.read.parquet(full).count()
            tables[name] = entry
    except Exception:
        import shutil

        for name in outputs:
            shutil.rmtree(
                os.path.join(out_dir, f"{name}-{token}.parquet"),
                ignore_errors=True,
            )
        raise
    manifest = {"token": token, "format": "parquet", "tables": tables}
    _publish_manifest(out_dir, manifest)
    return manifest


def read_committed_extract(
    spark: SparkSession, out_dir: str, token: str | None = None
) -> dict[str, DataFrame]:
    """Open a committed generation of an atomic extract: the current
    one via ``_MANIFEST.json`` (the commit marker), or — time travel —
    any retained generation by its ``token`` via the ``.manifests/``
    history. Raises ``FileNotFoundError`` if no extract ever
    committed here (or the named generation was vacuumed)."""
    import json

    path = (
        os.path.join(out_dir, MANIFEST_NAME)
        if token is None
        else os.path.join(out_dir, HISTORY_DIR, f"{token}.json")
    )
    with open(path) as f:
        manifest = json.load(f)
    fmt = manifest.get("format", "csv")
    out = {}
    for name, entry in manifest["tables"].items():
        p = os.path.join(out_dir, entry["path"])
        out[name] = (
            spark.read.parquet(p)
            if fmt == "parquet"
            else spark.read.option("header", True).csv(p)
        )
    return out


def list_generations(out_dir: str) -> list[dict]:
    """Committed generations, newest first: [{token, committed_at,
    current}] — the snapshot catalog for time travel."""
    import json

    current = None
    head = _commit_chain_head(out_dir)
    if head is not None:
        # CAS-chained tables: the chain head is authoritative (the
        # mirror can lag behind a concurrent winner)
        current = head[1]["token"]
    else:
        try:
            with open(os.path.join(out_dir, MANIFEST_NAME)) as f:
                current = json.load(f)["token"]
        except FileNotFoundError:
            pass
    out = []
    hist_dir = os.path.join(out_dir, HISTORY_DIR)
    if os.path.isdir(hist_dir):
        for entry in os.listdir(hist_dir):
            if not entry.endswith(".json"):
                continue
            with open(os.path.join(hist_dir, entry)) as f:
                m = json.load(f)
            out.append(
                {
                    "token": m["token"],
                    "committed_at": m.get("committed_at", 0.0),
                    "seq": m.get("seq"),
                    "current": m["token"] == current,
                }
            )
    # newest first — by commit seq where the CAS chain provides one
    # (wall clocks of concurrent writers can disagree with the commit
    # order), by commit time for the chainless layouts
    return sorted(
        out,
        key=lambda g: (
            -(g["seq"] if g["seq"] is not None else -1),
            -g["committed_at"],
        ),
    )


def token_as_of(path: str, ts) -> str:
    """TIMESTAMP AS OF resolution (Delta's idea on this chain): the
    token of the snapshot that was live at ``ts`` — the HIGHEST-SEQ
    retained commit whose ``committed_at`` is at or before ``ts``.
    ``ts`` may be an epoch float, a ``datetime``, or an ISO-8601
    string (naive forms are UTC — the engine pins the session TZ).

    Two honest limits, both inherent to wall-clock travel: commits
    whose advisory history record was vacuumed resolve only by token,
    not by time (they are skipped here); and concurrent writers'
    clocks can disagree with commit order, in which case the
    SEQ order wins — ``as of`` never returns a snapshot that a
    lower-seq commit superseded before ``ts`` on the chain itself."""
    if isinstance(ts, str):
        import datetime as _dt

        d = _dt.datetime.fromisoformat(ts)
        if d.tzinfo is None:
            d = d.replace(tzinfo=_dt.timezone.utc)
        ts = d.timestamp()
    elif hasattr(ts, "timestamp"):
        import datetime as _dt

        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=_dt.timezone.utc)
        ts = ts.timestamp()
    ts = float(ts)
    for g in list_generations(path):  # newest first by seq
        if g["committed_at"] and g["committed_at"] <= ts:
            return g["token"]
    raise ValueError(
        f"{path}: no retained snapshot committed at or before {ts} "
        "(the table may be younger, or the window was vacuumed)"
    )


def vacuum_extract(out_dir: str, keep_last: int = 1) -> list[str]:
    """Delete data not referenced by the ``keep_last`` newest
    committed generations (the current manifest is always retained):
    orphans from crashed runs, plus generations aged out of the
    time-travel window — their history records are pruned too, so a
    later ``read_committed_extract(token=...)`` on them fails cleanly
    instead of reading half-vacuumed data. Returns the removed data
    paths. Safe any time after commit: readers resolve through
    manifests, never by listing."""
    import json
    import shutil

    keep_last = max(keep_last, 1)
    kept = list_generations(out_dir)
    retained = {g["token"] for g in kept[:keep_last]}
    retained |= {g["token"] for g in kept if g["current"]}
    live: set[str] = set()
    hist_dir = os.path.join(out_dir, HISTORY_DIR)
    for token in retained:
        try:
            with open(os.path.join(hist_dir, f"{token}.json")) as f:
                live |= {e["path"] for e in json.load(f)["tables"].values()}
        except FileNotFoundError:
            pass
    if not live:  # pre-history layout: fall back to the live manifest
        try:
            with open(os.path.join(out_dir, MANIFEST_NAME)) as f:
                live = {e["path"] for e in json.load(f)["tables"].values()}
        except FileNotFoundError:
            pass
    removed = []
    for entry in os.listdir(out_dir):
        if entry == MANIFEST_NAME or entry in live or entry.startswith("."):
            continue
        full = os.path.join(out_dir, entry)
        if os.path.isdir(full):
            shutil.rmtree(full)
            removed.append(entry)
    # prune aged-out history records
    if os.path.isdir(hist_dir):
        for entry in os.listdir(hist_dir):
            tok = entry[: -len(".json")] if entry.endswith(".json") else None
            if tok and tok not in retained:
                os.remove(os.path.join(hist_dir, entry))
    return removed


def incremental_delta(
    spark: SparkSession,
    current: dict[str, DataFrame],
    out_dir: str,
    key_cols: dict[str, str],
    hash_cols: dict[str, list[str]] | None = None,
) -> dict[str, DataFrame]:
    """Delta extraction against the LAST COMMITTED generation: for
    each table, the current source rows that are new or changed since
    the previous atomic commit (compared by pk + md5 over the
    hash columns — all non-pk columns by default). A re-crawl then
    processes only the delta instead of the corpus: the CDC shape,
    built from the manifest history rather than a log.

    First run (no manifest yet) returns every row. Scale shape: the
    committed side reduces to (pk, hash) — 32-byte rows — then one
    left join per table; content never crosses the shuffle twice.

    Both sides hash through the SAME typed canonical form: the
    committed generation comes back from CSV as all-strings, so each
    hashed column is first cast to the CURRENT table's dtype and only
    then rendered to a string — otherwise columns whose Spark string
    cast differs from the CSV writer's rendering (timestamps
    '2020-01-01 00:00:00' vs '2020-01-01T00:00:00.000Z') would flag
    every row changed, silently degrading the delta to a full
    re-extract.
    """
    try:
        prev = read_committed_extract(spark, out_dir)
    except FileNotFoundError:
        return dict(current)

    def row_hash(
        df: DataFrame, pk: str, cols: list[str], dtypes: dict[str, str]
    ) -> DataFrame:
        parts = []
        for c in cols:
            dt = dtypes.get(c, "string")
            typed = F.col(c).cast(dt)  # no-op on the current side
            s = F.base64(typed) if dt == "binary" else typed.cast("string")
            parts.append(F.coalesce(s, F.lit("")))
        h = F.md5(F.concat_ws("\x01", *parts))
        return df.select(F.col(pk).cast("string").alias("__pk"), h.alias("__h"))

    out = {}
    for name, df in current.items():
        pk = key_cols[name]
        cols = (hash_cols or {}).get(name) or [c for c in df.columns if c != pk]
        if name not in prev:
            out[name] = df
            continue
        dtypes = dict(df.dtypes)
        prev_cols = [c for c in cols if c in prev[name].columns]
        old_h = row_hash(prev[name], pk, prev_cols, dtypes).withColumnRenamed(
            "__h", "__oh"
        )
        new_h = row_hash(df, pk, cols, dtypes)
        changed = (
            new_h.join(old_h, "__pk", "left_outer")
            .where(F.col("__oh").isNull() | (F.col("__h") != F.col("__oh")))
            .select("__pk")
        )
        out[name] = df.join(
            changed, df[pk].cast("string") == F.col("__pk"), "left_semi"
        )
    return out


def write_result_csv(df: DataFrame, path: str, append: bool = False) -> None:
    """Result sink (S8): per-table `Original Id, New Id, Error` rows;
    append mode on resume (`amaxa/loader/load_operation.py:103-132`)."""
    mode = "append" if append else "overwrite"
    df.write.mode(mode).option("header", True).csv(path)


# ---------------------------------------------------------------------------
# The bucket layout: rows land in directories keyed by a PK hash
# (`_bucket_expr`), so a merge rewrites only the buckets its keys hash
# to. At 100 TB pick n_buckets so one bucket is the rewrite unit you
# can afford (buckets rewrite independently and in parallel).

MERGE_BUCKET_COL = "__mb"


def _apply_matched_updates(
    table: DataFrame, updates: DataFrame, pk: str, set_cols: list[str]
) -> DataFrame:
    """The WHEN MATCHED THEN UPDATE body of every MERGE: left join
    the updates on pk, coalesce each set column. The updates must
    carry at most one row per pk (:func:`_nonnull_update_buckets`
    checks it)."""
    upd_renamed = updates.select(
        F.col(pk).alias("__u_pk"),
        *[F.col(c).alias(f"__u_{c}") for c in set_cols],
    )
    merged = table.join(upd_renamed, table[pk] == F.col("__u_pk"), "left_outer")
    for c in set_cols:
        merged = merged.withColumn(c, F.coalesce(F.col(f"__u_{c}"), F.col(c)))
    return merged.drop("__u_pk", *[f"__u_{c}" for c in set_cols])


def _nonnull_update_buckets(upd: DataFrame, pk: str) -> list:
    """Distinct bucket ids of an update frame, NULL keys excluded:
    NULL-pk rows never merge, and xxhash64 is null-SAFE (a NULL key
    still hashes to a concrete bucket) — including their bucket would
    make the manifest claim a path the write never produces.

    Raises if the frame carries more than one row per pk — a fan-out
    in the MERGE join would silently DUPLICATE target rows (Delta's
    MERGE errors on multiple matches for the same reason). Both come
    from ONE aggregation grouped by bucket: a key's rows share its
    bucket, so a bucket counting more rows than distinct keys holds a
    duplicate, and the plan shuffles once, on the bucket (so its
    parallelism is the bucket count, as the rewrite's is)."""
    nonnull = upd.where(F.col(pk).isNotNull())
    per_bucket = (
        nonnull.groupBy(MERGE_BUCKET_COL)
        .agg(F.count(F.lit(1)).alias("__n"), F.countDistinct(pk).alias("__k"))
        .collect()
    )
    if any(r["__n"] > r["__k"] for r in per_bucket):
        dup = (
            nonnull.groupBy(pk).count().where(F.col("count") > 1)
            .limit(1).collect()
        )
        raise ValueError(
            f"updates contain multiple rows for pk {dup[0][0]!r}; "
            "MERGE requires at most one update row per key"
        )
    return sorted(
        r[MERGE_BUCKET_COL]
        for r in per_bucket
        if r[MERGE_BUCKET_COL] is not None
    )


def _ckpt_with_buckets(df: DataFrame, *extra) -> tuple[DataFrame, dict]:
    """Eagerly materialize a ``__mb``-bucketed frame with its distinct
    non-null bucket set (plus any ``extra`` aggregates) observed on
    the SAME job: the old shape paid one action for the bucket
    ``distinct().collect()`` and then re-executed the frame's whole
    lineage in every later consumer (the matched-keys probe, the DV
    union write, the overlay anti-join). The bucket set is bounded by
    ``n_buckets``, so the observed ``collect_set`` is a bounded
    driver scalar. Returns ``(checkpointed_df, metrics)`` where
    ``metrics['buckets']`` is the sorted non-null bucket list."""
    from amaxa_spark.operators.graph import observed_checkpoint

    out, m = observed_checkpoint(
        df, F.collect_set(F.col(MERGE_BUCKET_COL)).alias("__bs"), *extra
    )
    m = dict(m)
    m["buckets"] = sorted(b for b in m.pop("__bs") if b is not None)
    return out, m


def _merge_target_frame(
    spark, root: str, meta: dict, buckets: list[int], upd, pk, set_cols
):
    """The frame a MERGE rewrites (shared by both layouts): the
    current rows of those of ``buckets`` that exist
    (:func:`_bucket_rows`), or a SCHEMA-ONLY frame when every one is
    brand new — taken from any existing bucket if
    one exists, else from the manifest's recorded ``schema_json``
    (zero-bucket empty-frame init: the DECLARED schema, so the first
    insert keeps init-declared columns as NULL instead of silently
    narrowing the table to pk + set_cols), falling back to the updates
    frame only for pre-format manifests that recorded no schema."""
    if any(str(b) in meta["buckets"] for b in buckets):
        return _bucket_rows(spark, root, meta, buckets)
    first = next(iter(sorted(meta["buckets"].items())), None)
    if first is None:
        if meta.get("schema_json") is not None:
            # the rewrite re-derives the bucket column
            return _empty_versioned_frame(spark, root, meta).drop(
                MERGE_BUCKET_COL
            )
        return _fill_added_columns(upd.select(pk, *set_cols).limit(0), meta)
    return _fill_added_columns(
        _read_logical(
            spark,
            meta,
            os.path.join(root, first[1], f"{MERGE_BUCKET_COL}={first[0]}"),
        ),
        meta,
    ).limit(0)


def _unmatched_inserts(
    table: DataFrame, updates: DataFrame, pk: str, set_cols: list[str]
) -> DataFrame:
    """WHEN NOT MATCHED THEN INSERT rows, aligned to the target
    schema: update keys absent from the target (anti-join — exact,
    because each key's bucket is a pure pk-hash, so "not in its own
    bucket" is "not in the table") become new rows carrying pk +
    set_cols; every other target column is NULL (ALTER-added columns
    still read as their default via :func:`_fill_added_columns`).

    NULL-key rows never insert: a NULL pk matches nothing (the
    anti-join would pass it through EVERY batch, accumulating one
    orphan row per replay) and identifies nothing — same as SQL
    MERGE, whose ON equality never matches NULLs either."""
    keep = {pk, *set_cols}
    new_rows = updates.where(F.col(pk).isNotNull()).join(
        table.select(pk), pk, "left_anti"
    )
    return new_rows.select(
        *[
            (
                F.col(c)
                if c in keep
                else F.lit(None).cast(table.schema[c].dataType)
            ).alias(c)
            for c in table.columns
        ]
    )


# ---------------------------------------------------------------------------
# Manifest-versioned bucket layout — ATOMIC partition-scoped MERGE with
# no Delta/Iceberg jar, and the only bucket layout. Rewriting bucket
# directories in place would let a reader racing a merge, or a merge
# dying mid-write, observe a half-rewritten bucket. So every merge
# writes ONLY the affected buckets' files under a fresh generation
# directory and then commits a manifest mapping bucket -> generation.
# Readers resolve through the manifest, so they see the old snapshot
# until the instant the new one is complete; a crash leaves an orphan
# generation directory that no manifest references (invisible;
# `vacuum_versioned` reclaims it). Time travel works per merge, not
# just per full rewrite. A single table is the one-table case of the
# multi-table layout below (`_layout_tables`): every verb has one
# body that works on `{table: entry}`.
#
# CONCURRENT WRITERS (the part a real Delta's commit log brings) are
# arbitrated by a CAS commit chain: the authoritative table state is
# the highest `.commits/<seq>.json`, and a merge claims seq+1 by
# `os.link`-ing a fully-written temp file to that name — atomic, and
# it FAILS if another writer claimed the seq first. On a lost race the
# merge compares its affected buckets against everything committed
# since the snapshot it read: disjoint -> rebase the bucket map onto
# the new head and retry the CAS (its generation files are still
# valid — it only rewrote buckets nobody else touched); overlapping ->
# ConcurrentMergeError, the caller must re-run the merge from a fresh
# read (its rewritten buckets were computed from stale files). This is
# exactly Delta's optimistic-concurrency protocol with the file system
# as the arbiter; on an object store the `os.link` claim maps to a
# conditional PUT (if-none-match). `_MANIFEST.json` remains as an
# advisory mirror for external tools; readers resolve through the
# chain.

COMMITS_DIR = ".commits"


class ConcurrentMergeError(RuntimeError):
    """Another merge committed an overlapping bucket since this
    merge's snapshot was read; re-run the merge from the new head."""


class ConstraintViolationError(RuntimeError):
    """A data-writing commit (init, MERGE, UPDATE, CDC-apply) produced
    rows that violate a table CHECK constraint — the commit is refused
    and nothing is published (the written generation is an invisible
    orphan that :func:`vacuum_versioned` reclaims)."""


class StaleStreamBatch(RuntimeError):
    """A commit tried to record a stream batch marker at or below the
    marker already committed for that stream — the batch was already
    applied (possibly by a failed-over twin of the same query).
    Raised from INSIDE the commit loop, so the check is against the
    exact head being extended, never a stale pre-read."""


def _commit_path(path: str, seq: int) -> str:
    return os.path.join(path, COMMITS_DIR, f"{seq}.json")


_HEAD_HINT = "HEAD"


def _commit_chain_head(path: str):
    """(seq, manifest) of the newest CAS commit, or None if the table
    predates / lacks a commit chain.

    Resolution is O(1 + lag), not O(#commits): the advisory ``HEAD``
    hint names a seq that is known to EXIST (commits are never
    deleted, so a hint can only lag, never overshoot); the real head
    is found by probing forward from it until the next seq is absent.
    A missing/corrupt hint falls back to the full directory listing —
    streaming workloads append one commit per micro-batch, and without
    the hint every head read would re-list a directory that grows
    without bound."""
    import json

    cdir = os.path.join(path, COMMITS_DIR)
    seq = None
    try:
        with open(os.path.join(cdir, _HEAD_HINT)) as f:
            hint = int(f.read().strip())
        if os.path.exists(_commit_path(path, hint)):
            seq = hint
    except (FileNotFoundError, ValueError):
        pass
    if seq is None:
        try:
            seqs = [
                int(f[: -len(".json")])
                for f in os.listdir(cdir)
                if f.endswith(".json")
            ]
        except FileNotFoundError:
            return None
        if not seqs:
            return None
        seq = max(seqs)
    while os.path.exists(_commit_path(path, seq + 1)):
        seq += 1
    # commits may be deltas against their parent — reconstruct
    return seq, _read_commit_full(path, seq)


def _write_head_hint(path: str, seq: int) -> None:
    """Best-effort advisory head pointer (atomic replace; losing a
    race to a SMALLER value is harmless — the forward probe recovers,
    and the next claim rewrites it)."""
    import uuid

    cdir = os.path.join(path, COMMITS_DIR)
    tmp = os.path.join(cdir, f".head-{uuid.uuid4().hex[:8]}")
    try:
        with open(tmp, "w") as f:
            f.write(str(seq))
        os.replace(tmp, os.path.join(cdir, _HEAD_HINT))
    except OSError:
        try:
            os.remove(tmp)
        except OSError:
            pass


# ---------------------------------------------------------------------------
# Delta commits + checkpoint folding — bounding the chain at 100 TB
#
# A naive chain stores the FULL manifest in every commit: at ~10^5
# buckets (a 100 TB table) that is megabytes of JSON per commit, one
# commit per streaming micro-batch, forever. Two mechanisms bound it
# (Delta Lake's log + checkpoint design, re-expressed on this chain):
#
# 1. DELTA COMMITS — a commit whose parent (seq-1) manifest is in hand
#    stores only PATCHES of the O(#buckets) maps (buckets /
#    bucket_stats / dv; per-table for the db layout) against that
#    parent, plus every small field verbatim. Every CHECKPOINT_EVERY-th
#    seq is written FULL (a checkpoint), so head reconstruction replays
#    at most CHECKPOINT_EVERY-1 small patches over one full read.
#    Encoding is verified by decode-roundtrip at claim time and falls
#    back to a full commit on any mismatch — a wrong reconstruction is
#    structurally impossible, the worst case is a bigger file.
#
# 2. CHECKPOINT FOLDING (:func:`compact_commit_chain`) — an admin/
#    vacuum-time compaction that materializes the full manifest at a
#    fold point F, atomically replaces ``F.json`` with it (readers see
#    the delta or the full doc — both reconstruct identically), records
#    F in the ``FLOOR`` file, then deletes every commit below F. The
#    seq-hole hazard (a stale writer os.link-ing into a deleted seq and
#    believing it committed) is closed by the FLOOR protocol: FLOOR is
#    durably advanced BEFORE any deletion, so "a hole exists at seq"
#    implies "FLOOR > seq"; every claim re-reads FLOOR AFTER its link
#    and retracts the claim if it landed below it (one tiny read per
#    commit — no directory listing).
#
# Time travel by token is untouched: it resolves through the advisory
# history records, which vacuum prunes independently.
# ---------------------------------------------------------------------------

CHECKPOINT_EVERY = int(os.environ.get("AMAXA_CHECKPOINT_EVERY", "32"))

_DELTA_BASE = "__delta_base__"
_PATCH = "__patch__"
_PATCHABLE = ("buckets", "bucket_stats", "dv")
_FLOOR_FILE = "FLOOR"


def _diff_map(new: dict, old: dict) -> dict:
    """Minimal overlay patch: changed/added keys carry the new value,
    keys absent from ``new`` carry None (= drop). Values are never
    legitimately None in the patchable maps (buckets/dv hold gen ids,
    bucket_stats entries are dicts), so None is a safe tombstone."""
    patch = {k: v for k, v in new.items() if old.get(k) != v}
    patch.update({k: None for k in old if k not in new})
    return patch


def _apply_map_patch(old: dict, patch: dict) -> dict:
    merged = {**old, **patch}
    return {k: v for k, v in merged.items() if v is not None}


def _encode_entry(new: dict, old) -> dict:
    """One manifest (or db table entry) with its big maps replaced by
    patches against ``old``. Key-presence mirrors ``new`` exactly: a
    key absent from ``new`` is absent from the encoding, so decoding
    never resurrects a map the new manifest dropped."""
    if not isinstance(old, dict):
        return new
    out = {}
    for k, v in new.items():
        if k in _PATCHABLE and isinstance(v, dict):
            base = old.get(k)
            out[k] = {
                _PATCH: _diff_map(v, base if isinstance(base, dict) else {})
            }
        else:
            out[k] = v
    return out


def _decode_entry(doc: dict, old) -> dict:
    old = old if isinstance(old, dict) else {}
    out = {}
    for k, v in doc.items():
        if k in _PATCHABLE and isinstance(v, dict) and _PATCH in v:
            base = old.get(k)
            out[k] = _apply_map_patch(
                base if isinstance(base, dict) else {}, v[_PATCH]
            )
        else:
            out[k] = v
    return out


def _encode_delta_commit(manifest: dict, parent: dict) -> dict:
    if manifest.get("kind") == "versioned-db":
        ptables = parent.get("tables") or {}
        doc = {k: v for k, v in manifest.items() if k != "tables"}
        doc["tables"] = {
            name: _encode_entry(t, ptables.get(name))
            for name, t in manifest["tables"].items()
        }
    else:
        doc = _encode_entry(manifest, parent)
    doc[_DELTA_BASE] = int(parent["seq"])
    return doc


def _decode_delta_commit(doc: dict, parent: dict) -> dict:
    if doc.get("kind") == "versioned-db":
        ptables = parent.get("tables") or {}
        out = {
            k: v for k, v in doc.items() if k not in ("tables", _DELTA_BASE)
        }
        out["tables"] = {
            name: _decode_entry(t, ptables.get(name))
            for name, t in doc["tables"].items()
        }
        return out
    return _decode_entry(
        {k: v for k, v in doc.items() if k != _DELTA_BASE}, parent
    )


def _read_commit_doc(path: str, seq: int) -> dict:
    import json

    with open(_commit_path(path, seq)) as f:
        return json.load(f)


def _read_commit_full(path: str, seq: int) -> dict:
    """The FULL manifest at chain seq ``seq``: walk delta bases back
    to the nearest full doc (≤ CHECKPOINT_EVERY-1 hops by the
    checkpoint cadence), then replay patches forward. A concurrent
    :func:`compact_commit_chain` can delete a commit file mid-walk —
    but only after folding its content into a full doc at a higher
    seq, so re-resolving from ``seq`` terminates on that full doc."""
    last_err = None
    for _attempt in range(5):
        try:
            deltas = []
            doc = _read_commit_doc(path, seq)
            while _DELTA_BASE in doc:
                deltas.append(doc)
                doc = _read_commit_doc(path, doc[_DELTA_BASE])
            for d in reversed(deltas):
                doc = _decode_delta_commit(d, doc)
            return doc
        except FileNotFoundError as e:
            last_err = e
    raise last_err


def _chain_floor(path: str) -> int | None:
    """Lowest seq guaranteed to exist on the chain (commits below it
    were folded away), or None if no compaction ever ran."""
    try:
        with open(os.path.join(path, COMMITS_DIR, _FLOOR_FILE)) as f:
            return int(f.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def compact_commit_chain(
    path: str,
    keep_last: int = CHECKPOINT_EVERY,
    min_age_s: float = 0.0,
    dry_run: bool = False,
) -> dict:
    """Fold the dense prefix of the CAS commit chain into a checkpoint
    commit and delete the folded files — the bounded-metadata
    companion of :func:`vacuum_versioned` (which this never touches:
    data generations and advisory history have their own retention).

    Protocol (each step durable before the next):

    1. Pick the fold point ``F = head_seq - keep_last`` (skip if the
       chain is shorter, already folded past F, or ``F.json`` is
       younger than ``min_age_s``).
    2. Materialize the full manifest at F and atomically REPLACE
       ``F.json`` with it. Content-equivalent: any reader replaying
       through F reconstructs the same manifest from the delta or the
       full doc, so this is safe against live readers.
    3. Advance the ``FLOOR`` file to F (atomic replace, monotonic —
       guarded by the compaction lock).
    4. Delete every ``<seq>.json`` with seq < F.

    Seq-hole safety: a stale writer that os.link's into a deleted seq
    would silently lose its commit (head resolution never looks below
    the head). Step 3 before step 4 gives the invariant "hole at seq
    ⟹ FLOOR > seq"; :func:`_claim_commit` re-reads FLOOR after every
    successful link and retracts claims below it, converting the lost
    update into the ordinary rebase path.

    Concurrent compactions serialize on ``.compact.lock`` (O_EXCL
    create); a crashed compactor's lock must be removed manually
    (``force_lock=True`` is deliberately absent — folding is an admin
    operation). Returns ``{"folded_at", "removed", "floor"}``."""
    import json
    import time

    cdir = os.path.join(path, COMMITS_DIR)
    head = _commit_chain_head(path)
    out = {"folded_at": None, "removed": 0, "floor": _chain_floor(path)}
    if head is None:
        return out
    head_seq, _ = head
    fold = head_seq - int(keep_last)
    floor = _chain_floor(path) or 0
    if fold <= floor or fold <= 0:
        return out
    try:
        if time.time() - os.path.getmtime(_commit_path(path, fold)) < min_age_s:
            return out
    except FileNotFoundError:
        pass  # fold point already folded by a racing compactor
    if dry_run:
        victims = [
            s for s in _chain_seqs(cdir) if floor <= s < fold
        ]
        return {"folded_at": fold, "removed": len(victims), "floor": fold}
    lock = os.path.join(cdir, ".compact.lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
    except FileExistsError:
        raise RuntimeError(
            f"{path}: another chain compaction holds {lock} (remove it "
            "manually if its owner crashed)"
        )
    try:
        floor = _chain_floor(path) or 0  # re-read under the lock
        if fold <= floor:
            return {"folded_at": None, "removed": 0, "floor": floor}
        # 2. materialize the checkpoint — atomic replace, equivalent
        # content, so concurrent readers and head probes are unharmed
        full = _read_commit_full(path, fold)
        tmp = os.path.join(cdir, f".fold-{fold}")
        with open(tmp, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
        os.replace(tmp, _commit_path(path, fold))
        # 3. durably advance the floor BEFORE any deletion
        tmp = os.path.join(cdir, f".floor-{fold}")
        with open(tmp, "w") as f:
            f.write(str(fold))
        os.replace(tmp, os.path.join(cdir, _FLOOR_FILE))
        # 4. the fold: delete the folded prefix
        removed = 0
        for s in _chain_seqs(cdir):
            if s < fold:
                try:
                    os.remove(_commit_path(path, s))
                    removed += 1
                except FileNotFoundError:
                    pass
        return {"folded_at": fold, "removed": removed, "floor": fold}
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


def _chain_seqs(cdir: str) -> list[int]:
    try:
        return sorted(
            int(f[: -len(".json")])
            for f in os.listdir(cdir)
            if f.endswith(".json") and not f.startswith(".")
        )
    except FileNotFoundError:
        return []


def _claim_commit(
    path: str, seq: int, manifest: dict, parent: dict | None = None
) -> None:
    """Atomically claim commit ``seq``: write the commit doc to a
    temp file, then hard-link it to the chain name — the link either
    materializes the complete file under ``<seq>.json`` or raises
    ``FileExistsError`` because another writer got there first. No
    reader can observe a partially-written commit.

    ``parent`` is the manifest this commit extends (the caller's
    snapshot or rebased head). When it is exactly seq-1, the doc is
    written as a DELTA — patches of the O(#buckets) maps instead of
    the full manifest — verified by decode-roundtrip before use and
    skipped on every CHECKPOINT_EVERY-th seq so reconstruction stays
    O(1 full + CHECKPOINT_EVERY patches). Without ``parent`` the full
    manifest is written (always correct, just bigger).

    After a successful link the claim re-reads the compaction FLOOR
    and retracts itself if it landed below it (the seq was folded
    away — linking into the hole would be a silently lost update);
    the raised FileExistsError sends the caller down its ordinary
    rebase path, which reads the true head."""
    import json
    import uuid

    doc = manifest
    if (
        parent is not None
        and seq > 0
        and CHECKPOINT_EVERY > 1
        and seq % CHECKPOINT_EVERY != 0
        and int(parent.get("seq", -2)) == seq - 1
        and parent.get("kind") == manifest.get("kind")
    ):
        cand = _encode_delta_commit(manifest, parent)
        if _decode_delta_commit(cand, parent) == manifest:
            doc = cand
    cdir = os.path.join(path, COMMITS_DIR)
    os.makedirs(cdir, exist_ok=True)
    tmp = os.path.join(cdir, f".tmp-{uuid.uuid4().hex[:12]}")
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    try:
        os.link(tmp, _commit_path(path, seq))
    finally:
        os.remove(tmp)
    floor = _chain_floor(path)
    if floor is not None and seq < floor:
        try:
            os.remove(_commit_path(path, seq))
        except OSError:
            pass
        raise FileExistsError(
            f"{path}: commit seq {seq} is below the chain compaction "
            f"floor {floor} — the snapshot it extends was folded away"
        )
    _write_head_hint(path, seq)


def _bucket_expr(pk: str, n_buckets: int, col=None):
    """THE layout hash — every bucket computation in the module goes
    through here so cast semantics can never drift. ``col`` overrides
    the hashed expression (e.g. a literal pre-cast to the recorded pk
    type) while keeping the hash/pmod/cast chain single-sourced."""
    if col is None:
        col = F.col(pk)
    return F.pmod(
        F.xxhash64(col.cast("string")), F.lit(n_buckets)
    ).cast("int")


def _present_buckets(gen_dir: str) -> list[int]:
    prefix = f"{MERGE_BUCKET_COL}="
    return sorted(
        int(d[len(prefix):])
        for d in os.listdir(gen_dir)
        if d.startswith(prefix)
    )


def write_versioned_table(
    df: DataFrame, path: str, pk: str, n_buckets: int = 64,
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    constraints: dict[str, str] | None = None,
    file_stats: bool | None = None,
    write_options: dict | None = None,
    _expect_head_seq: int | None = None,
) -> dict:
    """Initial commit of a versioned bucket table. Data lands under
    ``<path>/gen-<token>/<bucket>=N/``; the published manifest maps
    every present bucket to that generation. ``write_options`` are
    DataFrameWriter options for the write (advisory parquet tuning
    like ``maxRecordsPerFile``, as in :func:`write_versioned_db`).

    ``stats_cols`` opts the table into manifest-level data skipping:
    per-bucket min/max/null stats for those columns ride every commit
    (this init and every later merge/delete/CDC-apply/compaction
    maintain them automatically), and
    ``read_versioned_table(prune=...)`` skips buckets they prove
    disjoint. A RE-init over an existing stats-enabled table inherits
    the setting unless the caller passes its own (pruning silently
    stopping on re-init would be a performance regression no test
    catches).

    ``bloom_cols`` adds per-bucket Bloom filters for EQUALITY
    skipping on non-pk columns (``read_versioned_table(eq=...)``) —
    the complement of range stats: min/max discriminates only for
    bucket-correlated values, a Bloom answers point predicates on any
    distribution. Maintained and inherited exactly like
    ``stats_cols`` (same commit loop, same purge-then-overlay).

    ``_expect_head_seq`` refuses the commit unless the head is still
    that seq (:func:`_write_tables`)."""

    def one(v):
        return None if v is None else {"": v}

    return _write_tables(
        df.sparkSession, path, {"": df}, {"": pk}, n_buckets, one(write_options),
        one(stats_cols), one(bloom_cols), one(constraints), one(file_stats),
        _expect_head_seq,
    )


def _write_tables(
    spark: SparkSession,
    path: str,
    frames: dict[str, DataFrame],
    pks: dict[str, str],
    n_buckets: int | dict[str, int],
    write_options: dict[str, dict] | None,
    stats_cols: dict[str, list[str]] | None,
    bloom_cols: dict[str, list[str]] | None,
    constraints: dict[str, dict[str, str]] | None,
    file_stats: dict[str, bool] | None,
    expect_head_seq: int | None = None,
) -> dict:
    """THE init (full-rewrite) commit of both layouts: every table of
    ``frames`` (``{"": df}`` for a single table) lands under one fresh
    generation, then ONE chain commit publishes them all.

    An option map left ``None`` is inherited, table by table, from
    the head's entry of the same table (a re-init silently dropping
    pruning or CHECK enforcement would be a regression no test
    catches); a given map is taken as it is, an absent table key
    opting out. Every table's options are checked before any file is
    written. ``rows`` is observed on the write
    itself (no extra job) and is true for this snapshot only: the
    first data commit that touches the table drops it
    (:func:`_stamp_table`).

    Re-initializing an existing table is a FULL-REWRITE commit on the
    same chain (old snapshots stay time-travelable until vacuumed): it
    supersedes whatever concurrent merges committed, so it claims the
    next seq unconditionally — but the carried-over state is REBUILT
    from the head on every attempt. Stream progress markers survive
    (live exactly-once streams must keep skipping applied batches),
    and so do ALTER-added columns the new baseline does not carry
    physically (stream set_cols may target them); one the baseline
    carries leaves the metadata, or the new data's genuine NULLs would
    read as the old default. Delete the directory for a truly clean
    slate.

    ``expect_head_seq`` is for SNAPSHOT-DERIVED re-inits
    (:func:`rebucket_versioned`): their baseline was computed from the
    table's own rows at that seq, so a commit landing after it would
    be silently superseded — losing data, unlike a caller-supplied
    rewrite where last-write-wins IS the semantics. Such a race raises
    :class:`ConcurrentMergeError`; the written generation is an
    invisible orphan that vacuum reclaims."""
    from pyspark.sql import Observation

    db = set(frames) != {""}
    head0 = _commit_chain_head(path)
    prev0 = _layout_tables(head0[1]) if head0 is not None else {}

    def opt(given, name, key, kind):
        if given is None:
            return kind((prev0.get(name) or {}).get(key) or kind())
        return kind(given.get(name) or kind())

    specs: dict[str, dict] = {}
    for name in frames:
        specs[name] = spec = {
            "stats_cols": opt(stats_cols, name, "stats_cols", list),
            "bloom_cols": opt(bloom_cols, name, "bloom_cols", list),
            "constraints": opt(constraints, name, "constraints", dict),
            "file_stats": opt(file_stats, name, "file_stats", bool),
        }
        if spec["file_stats"] and not spec["stats_cols"]:
            raise ValueError(
                f"{_table_root(path, name)}: file_stats requires "
                "stats_cols (the fine tier describes the same columns as "
                "the bucket tier)"
            )
    token = _new_token()
    gen = f"gen-{token}"
    entries: dict[str, dict] = {}
    for name, df in frames.items():
        root = _table_root(path, name)
        pk = pks[name]
        nb = n_buckets[name] if isinstance(n_buckets, dict) else n_buckets
        obs = Observation()
        out = df.withColumn(MERGE_BUCKET_COL, _bucket_expr(pk, nb))
        w = out.observe(obs, F.count(F.lit(1)).alias("rows")).write
        for k, v in ((write_options or {}).get(name) or {}).items():
            w = w.option(k, v)
        tdir = os.path.join(root, gen)
        w.mode("errorifexists").partitionBy(MERGE_BUCKET_COL).parquet(tdir)
        entry = {
            "pk": pk,
            "n_buckets": nb,
            # the init frame's logical schema: the collision authority
            # for ALTERs on ZERO-bucket tables, where no parquet footer
            # exists to consult (an empty-frame init still has a
            # schema); the full typed form types empty diffs and other
            # no-data reads
            "columns": list(df.columns),
            "schema_json": df.schema.json(),
            "buckets": {str(b): gen for b in _present_buckets(tdir)},
            "rows": obs.get["rows"],
        }
        entry.update((k, v) for k, v in specs[name].items() if v)
        if entry.get("constraints"):
            # the new baseline must satisfy the constraints it carries
            _check_constraints_frame(
                spark.read.schema(out.drop(MERGE_BUCKET_COL).schema)
                .parquet(tdir),
                entry["constraints"],
                root,
            )
        if _wants_stats(entry):
            entry["bucket_stats"] = _harvest_bucket_stats(
                spark, root, gen, entry
            )
        entries[name] = entry
    while True:
        head = _commit_chain_head(path)
        if expect_head_seq is not None and (
            head is None or head[0] != expect_head_seq
        ):
            raise ConcurrentMergeError(
                f"{path}: head advanced to seq "
                f"{'<none>' if head is None else head[0]} after this "
                f"snapshot-derived rewrite read seq {expect_head_seq}; "
                "re-run against the new head"
            )
        prev = _layout_tables(head[1]) if head is not None else {}
        tables = {}
        for name, entry in entries.items():
            added = (prev.get(name) or {}).get("added_columns") or {}
            carried = {c: v for c, v in added.items() if c not in entry["columns"]}
            tables[name] = {**entry, "added_columns": carried} if carried else entry
        manifest = (
            {"kind": "versioned-db", "tables": tables} if db
            else {**tables[""], "kind": "versioned-buckets"}
        )
        manifest.update(token=token, seq=0 if head is None else head[0] + 1)
        if head is not None and head[1].get("streams"):
            manifest["streams"] = dict(head[1]["streams"])
        try:
            _claim_commit(
                path, manifest["seq"], manifest,
                parent=None if head is None else head[1],
            )
            break
        except FileExistsError:
            continue
    _publish_manifest(path, manifest)
    return manifest


def _bucket_manifest(path: str, token: str | None = None) -> dict:
    return _layout_manifest(path, token, db=False)


def _layout_manifest(path: str, token: str | None, db: bool) -> dict:
    """The committed manifest of a single table (``db=False``) or a
    database: the chain head, or the snapshot ``token`` names."""
    import json

    if token is None:
        # the CAS commit chain is authoritative (the _MANIFEST.json
        # mirror can lag under concurrent writers); a single table
        # falls back to the mirror only for chainless layouts
        head = _commit_chain_head(path)
        if head is not None:
            manifest = head[1]
        elif db:
            raise FileNotFoundError(f"{path}: no versioned database commit")
        else:
            with open(os.path.join(path, MANIFEST_NAME)) as f:
                manifest = json.load(f)
    else:
        with open(os.path.join(path, HISTORY_DIR, f"{token}.json")) as f:
            manifest = json.load(f)
    if manifest.get("kind") != ("versioned-db" if db else "versioned-buckets"):
        raise ValueError(
            f"{path}: not a versioned {'database' if db else 'bucket table'}"
        )
    return manifest


def _fill_added_columns(df: DataFrame, manifest: dict) -> DataFrame:
    """Reader-side schema evolution, BOTH directions: columns added by
    metadata-only ALTER commits materialize at read time — absent
    entirely (no file written since the alter) they appear as the
    default; present in some generations but null in pre-alter files
    they coalesce to the default. Columns DROPPED by metadata-only
    ALTER are projected OUT — the physical bytes stay in old
    generations (time travel by pre-drop token still shows them), and
    every bucket a later merge rewrites sheds them physically (the
    same incremental-rewrite deal as ADD's deferred backfill).
    Parquet files are never rewritten for an ALTER."""
    for col, spec in manifest.get("added_columns", {}).items():
        default = F.lit(spec.get("default")).cast(spec["type"])
        if col not in df.columns:
            df = df.withColumn(col, default)
        elif spec.get("default") is not None:
            df = df.withColumn(col, F.coalesce(F.col(col), default))
    dropped = [
        c for c in manifest.get("dropped_columns", []) if c in df.columns
    ]
    return df.drop(*dropped) if dropped else df


def _column_map(entry: dict) -> dict:
    """The manifest's logical→physical name map (Delta-style column
    mapping, the machinery behind metadata-only RENAME COLUMN).
    Parquet files always carry a column's ORIGINAL name — stable for
    the life of the table — so generations written before and after
    any number of renames stay schema-uniform (a scan never sees
    two names for one column) and rewrites never have to migrate old
    files. Empty (the common case) until the first rename."""
    return entry.get("column_map") or {}


def _phys_name(entry: dict, col: str) -> str:
    """The physical (parquet) name of a logical column — identity
    unless the column was renamed."""
    return _column_map(entry).get(col, col)


def _to_logical(df: DataFrame, entry: dict) -> DataFrame:
    """Physical→logical rename at the read boundary: ONE simultaneous
    select (chained renames could collide on a swap like
    {b: "a", a: "c"}), a no-op projection when the map is empty."""
    cmap = _column_map(entry)
    if not cmap:
        return df
    rev = {p: l for l, p in cmap.items()}
    return df.select(
        *[
            df[c].alias(rev[c]) if c in rev else df[c]
            for c in df.columns
        ]
    )


def _to_physical(df: DataFrame, entry: dict) -> DataFrame:
    """Logical→physical rename at the write boundary — every bucket
    rewrite (MERGE/UPDATE/DELETE/CDC) keeps writing the ORIGINAL
    physical names so all generations of a table stay schema-uniform
    regardless of rename history."""
    cmap = _column_map(entry)
    if not cmap:
        return df
    return df.select(
        *[
            df[c].alias(cmap[c]) if c in cmap else df[c]
            for c in df.columns
        ]
    )


def _read_logical(
    spark: SparkSession, manifest: dict, *paths,
    schema: StructType | None = None,
) -> DataFrame:
    """The standard logical read of committed bucket paths:
    recorded-schema parquet scan (:func:`_read_physical`), then
    physical→logical translation. Everything downstream of this call —
    predicates, SET expressions, constraints, added-column fill —
    speaks logical names only."""
    return _to_logical(
        _read_physical(spark, manifest, *paths, schema=schema), manifest
    )


DV_PK_COL = "__dv_pk"


def _dv_map(entry: dict) -> dict:
    """The manifest's deletion-vector map ``{bucket: gen}`` —
    merge-on-read DELETE (Delta/Iceberg's deletion-vector idea on the
    bucket layout): ``<root>/<gen>/<bucket dir>`` holds one parquet
    file of DELETED pk values (column ``__dv_pk``, the UNION of every
    DV commit since the bucket's last rewrite). Readers anti-join;
    any rewrite of the bucket materializes the delete and sheds the
    entry. Empty (the common case) until the first ``mode="dv"``
    delete."""
    return entry.get("dv") or {}


def _patch_map(entry: dict) -> dict:
    """The manifest's merge-on-read UPDATE overlay ``{bucket: gen}``:
    ``<root>/<gen>/<bucket dir>`` holds the CURRENT full rows of the
    bucket's pks whose base version was superseded without a rewrite
    (``update_versioned(mode="dv")``). The read contract is
    ``(base \\ DV) ∪ patch``: every patched pk is also in the bucket's
    DV (the update kills the base version and overlays the new one),
    so the anti-join and the union compose without double-counting.
    Any rewrite of the bucket materializes the overlay and sheds the
    entry atomically with its DV, exactly like DELETE's vector."""
    return entry.get("patch") or {}


def _apply_dv(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    entry: dict,
    buckets=None,
) -> DataFrame:
    """Merge-on-read: anti-join the frame against the snapshot's
    deletion vectors (restricted to ``buckets`` when the read was
    pruned — a DV'd pk hashes to its own bucket, so DVs of unread
    buckets cannot match anyway; skipping them keeps the file list
    proportional to the scan), then union the UPDATE overlay rows of
    the same buckets (:func:`_patch_map` — the anti-join killed their
    superseded base versions, the union restores the current ones).
    The DV side is tiny by construction (deleted keys only), so AQE
    broadcasts the anti-join; patch rows are proportional to rows
    updated since the last rewrite.

    ``buckets=None`` means the frame spans EVERY manifest bucket —
    writer-side callers reading a subset MUST pass their bucket set,
    or another bucket's overlay rows would leak into their frame."""
    dv = _dv_map(entry)
    patch = _patch_map(entry)
    if buckets is not None:
        buckets = {str(b) for b in buckets}
        dv = {b: g for b, g in dv.items() if b in buckets}
        patch = {b: g for b, g in patch.items() if b in buckets}
    pk = entry["pk"]
    if dv:
        dead = (
            _read_dv(spark, entry, *_bucket_dirs(root, dv))
            .select(F.col(DV_PK_COL).alias(pk))
            .distinct()
        )
        df = df.join(dead, pk, "left_anti")
    if patch:
        prows = _fill_added_columns(
            _read_logical(spark, entry, *_bucket_dirs(root, patch)), entry
        )
        if MERGE_BUCKET_COL in df.columns:
            prows = prows.withColumn(
                MERGE_BUCKET_COL,
                _bucket_expr(entry["pk"], entry["n_buckets"]),
            )
        df = df.unionByName(prows.select(*df.columns))
    return df


def _bucket_dirs(root: str, m: dict, buckets=None) -> list[str]:
    """The leaf directories ``<root>/<gen>/__mb=<b>`` that map ``m``
    (``{bucket: gen}`` — the buckets, DV or overlay map) holds for
    ``buckets`` (default: all of them, in bucket-key order)."""
    if buckets is None:
        buckets = sorted(m)
    return [
        os.path.join(root, m[str(b)], f"{MERGE_BUCKET_COL}={b}")
        for b in buckets
        if str(b) in m
    ]


def _bucket_rows(
    spark: SparkSession, root: str, t: dict, buckets
) -> DataFrame:
    """The current logical rows of ``buckets`` (those the snapshot
    holds; at least one), as every rewrite reads them: the
    recorded-schema read (buckets can span pre- and post-ALTER
    generations — without the superset schema a column only newer
    files carry would be silently DROPPED), ALTER-added columns
    filled (the rewrite MATERIALIZES them, the deferred ALTER
    backfill), and the DVs and overlays of these buckets only
    composed in (a rewrite must not resurrect merge-on-read deletes
    — it sheds the DV in the same commit — and the overlay rows of a
    bucket it does not touch must not leak in)."""
    return _apply_dv(
        spark, root,
        _fill_added_columns(
            _read_logical(spark, t, *_bucket_dirs(root, t["buckets"], buckets)),
            t,
        ),
        t,
        buckets={str(b) for b in buckets},
    )


def _manifest_logical_columns(manifest: dict) -> set | None:
    """The table's logical column set from manifest metadata alone —
    recorded init schema plus ALTER-added minus ALTER-dropped — or
    ``None`` for a pre-format manifest that recorded no schema (those
    callers must consult a parquet footer or an opened read instead).
    No Spark, no file IO: usable before bucket pruning decides
    whether any file will be opened at all."""
    import json

    sj = manifest.get("schema_json")
    if sj is not None:
        cols = {f["name"] for f in json.loads(sj)["fields"]}
    elif manifest.get("columns"):
        cols = set(manifest["columns"])
    else:
        return None
    cols.update(manifest.get("added_columns", {}))
    cols -= set(manifest.get("dropped_columns") or [])
    cols.discard(MERGE_BUCKET_COL)
    return cols


def _empty_versioned_frame(
    spark: SparkSession, path: str, manifest: dict
) -> DataFrame:
    """Typed empty read of a snapshot: a zero-bucket snapshot is a
    legitimate EMPTY table (an empty-frame init, or a DELETE that
    removed every row), and a stats-pruned read can eliminate every
    bucket — the recorded schema types both; only pre-format
    manifests, which recorded nothing, still error."""
    schema_json = manifest.get("schema_json")
    if schema_json is None:
        raise FileNotFoundError(f"{path}: empty versioned table")
    import json as _json

    from pyspark.sql.types import StructType

    empty = spark.createDataFrame(
        [], StructType.fromJson(_json.loads(schema_json))
    ).withColumn(
        MERGE_BUCKET_COL,
        _bucket_expr(manifest["pk"], manifest["n_buckets"]),
    )
    return _fill_added_columns(empty, manifest)


def read_versioned_table(
    spark: SparkSession,
    path: str,
    token: str | None = None,
    prune: list[tuple] | None = None,
    pk_in: list | None = None,
    eq: list[tuple] | None = None,
    as_of=None,
) -> DataFrame:
    """Open the committed snapshot (or any retained generation by
    token): each bucket reads from exactly the generation its manifest
    entry names — a consistent point-in-time view regardless of any
    in-flight merge.

    Planning is manifest-only: the scan takes the schema the manifest
    records (init schema, ALTERs and widenings applied —
    :func:`_manifest_read_schema`), so opening a snapshot reads no
    parquet footer and starts no Spark job; the first job is the
    caller's action. Only pre-format manifests without a recorded
    schema still infer from footers.

    Data skipping (both optional, composable, and EXACT — the same
    predicate is re-applied to the surviving rows, so the result
    always equals the unpruned read with a ``.where`` on top):

    - ``prune``: a list of ``(col, lo, hi)`` range conjuncts
      (``None`` bound = unbounded; ``(col, None, None)`` means
      ``IS NOT NULL``). Buckets whose committed manifest stats prove
      no row can match are never listed, opened, or scanned — the
      Delta/Iceberg file-skipping idea at manifest level, no footer
      reads at plan time. Buckets without stats are conservatively
      read. NOTE: buckets are PK-HASH partitioned, so range stats
      only discriminate for columns correlated with the key or with
      bucket content (e.g. sparse/all-null attributes, cluster-local
      values); uniform columns span every bucket and prune nothing —
      the honest limit of stats over a hash layout.
    - ``pk_in``: a BOUNDED list of key values (point-lookup shape,
      driver cost O(|values|)); the exact pk-hash buckets come from
      :func:`pk_value_buckets` — on the driver, without a Spark job,
      for string keys and in-range ``int`` keys of an integer pk — so
      a k-key lookup on a 10⁵-bucket 100 TB table reads ≤ k buckets —
      always exact, no stats needed.
    - ``eq``: ``(col, value)`` equality conjuncts answered by the
      per-bucket Bloom filters (``bloom_cols`` opt-in) — point
      predicates on NON-pk columns of any distribution, where range
      stats are blind. A ``None`` value means ``IS NULL`` (residual
      only; blooms index non-null values). False positives read extra
      buckets, never rows: the residual equality still applies.
    """
    return _read_table(spark, path, "", False, token, as_of, prune, pk_in, eq)


def _read_table(
    spark: SparkSession, path: str, table: str, db: bool, token, as_of,
    prune, pk_in, eq,
) -> DataFrame:
    """The read of both layouts: ``table`` (``""`` for a single
    table) of the head, the ``token`` snapshot, or the snapshot live
    ``as_of`` a time (TIMESTAMP AS OF, :func:`token_as_of`)."""
    if as_of is not None:
        if token is not None:
            raise ValueError("pass token OR as_of, not both")
        token = token_as_of(path, as_of)
    manifest = _layout_manifest(path, token, db)
    _require_tables(path, manifest, [table])
    return _read_entry(
        spark, _table_root(path, table), _layout_tables(manifest)[table],
        prune, pk_in, eq,
    )


def _read_entry(
    spark: SparkSession,
    root: str,
    t: dict,
    prune: list[tuple] | None = None,
    pk_in: list | None = None,
    eq: list[tuple] | None = None,
) -> DataFrame:
    """Read one table entry of either layout (a single table's
    manifest, or a database's table entry with ``root`` its
    directory): skipping, the recorded-schema scan, added-column
    fill, DV/overlay composition and the exact residual."""
    keep = _skipping_keep(spark, root, t, prune, pk_in, eq)
    paths = _pruned_bucket_paths(root, t, keep, prune, eq)
    if not paths:
        # zero buckets is a legitimate EMPTY table (empty-frame init,
        # a DELETE that removed every row, or skipping eliminated
        # every bucket) — the shared typed-empty reader applies
        df = _empty_versioned_frame(spark, root, t)
    else:
        # reading the leaf `<bucket>=N` dirs loses the bucket column;
        # it is a pure pk-hash expression, so re-deriving it is exact
        df = _read_logical(spark, t, *paths).withColumn(
            MERGE_BUCKET_COL, _bucket_expr(t["pk"], t["n_buckets"])
        )
        df = _fill_added_columns(df, t)
        df = _apply_dv(spark, root, df, t, keep)
    return _apply_skipping_residual(df, t, prune, pk_in, eq)


def _skipping_keep(
    spark: SparkSession,
    root: str,
    entry: dict,
    prune: list[tuple] | None,
    pk_in: list | None,
    eq: list[tuple] | None = None,
) -> set[str]:
    """Bucket ids that survive manifest-level skipping — shared by the
    single-table and db readers (a db table entry carries the same
    pk/n_buckets/buckets/schema_json/bucket_stats shape)."""
    keep = set(entry["buckets"])
    pk_keep = (
        {str(b) for b in pk_value_buckets(spark, entry, pk_in)}
        if pk_in is not None
        else None
    )
    if prune:
        keep &= set(stats_prune_buckets(entry, prune))
    if pk_keep is not None:
        keep &= pk_keep
    for col, value in eq or []:
        if value is None:
            # IS NULL: blooms only index non-null values, but range
            # stats carry the null COUNT — a bucket with zero nulls
            # in this column provably holds no matching row
            keep -= _zero_null_buckets(entry, col)
            continue
        # an equality is the degenerate range [v, v] — consult the
        # min/max stats first (free: no sidecar IO) — but ONLY under
        # the same type-family gate the Bloom tier applies: a
        # cross-family literal's residual may cast the LITERAL (a
        # non-canonical '2024-7-1' string on a date column promotes
        # to DATE and matches), while the stats comparison would see
        # two plain strings that lexicographically 'prove' absence —
        # silent data loss without the gate
        if _eq_stats_sound(entry, col, value):
            keep &= set(stats_prune_buckets(entry, [(col, value, value)]))
        if col not in (entry.get("bloom_cols") or []):
            continue  # no blooms for this column: nothing to consult
        if col in (entry.get("added_columns") or {}):
            continue  # harvest never blooms ALTER-added columns
        dt = _recorded_col_type(entry, col)
        if dt is None or not _eq_bloom_sound(dt, value):
            # unknown column/pre-format manifest, or a CROSS-FAMILY
            # literal: under Spark promotion the COLUMN may be cast
            # ('05' = 5 is true on a string column), which no finite
            # bloom can answer — read everything, residual stays exact
            continue
        if not keep:
            break  # already empty: skip the per-conjunct hash job
        h1, h2 = _bloom_lookup_hashes(spark, entry, col, value)
        keep &= set(bloom_prune_buckets(root, entry, col, h1, h2))
    # COMPOSITE bloom keys: consulted when the eq conjuncts cover
    # every component with a sound non-null literal — the case where
    # each per-column filter passes but the COMBINATION is absent
    if eq and keep:
        eq_map: dict = {}
        for col, value in eq:
            if value is not None:
                eq_map.setdefault(col, value)
        added = entry.get("added_columns") or {}
        for key in entry.get("bloom_cols") or []:
            parts = _bloom_key_cols(key)
            if len(parts) < 2 or not all(p in eq_map for p in parts):
                continue
            if any(p in added for p in parts):
                continue
            sound = True
            for p in parts:
                dt = _recorded_col_type(entry, p)
                if dt is None or not _eq_bloom_sound(dt, eq_map[p]):
                    sound = False
                    break
            if not sound:
                continue
            if not keep:
                break
            h1, h2 = _bloom_lookup_hashes(
                spark, entry, parts, [eq_map[p] for p in parts]
            )
            keep &= set(bloom_prune_buckets(root, entry, parts, h1, h2))
    if prune or eq:
        # UPDATE-overlaid buckets are exempt from stats/bloom pruning:
        # their base generation's stats and blooms describe superseded
        # values, so a prune could hide a patched row. pk_in pruning
        # stays exact (an overlay never moves a pk's hash bucket), and
        # the residual predicate keeps the extra reads row-exact.
        patched = set(_patch_map(entry)) & set(entry["buckets"])
        if pk_keep is not None:
            patched &= pk_keep
        keep |= patched
    return keep


def _eq_bloom_sound(dt, value) -> bool:
    """Is bloom pruning with the cast-rendered hash SOUND for this
    (column type, literal) pair under Spark's native promotion
    semantics? Within one type family, any row the promoted equality
    matches also equals CAST(value AS coltype) (lossy literals can
    only add false-positive buckets, never hide matches); across
    families the promotion may rewrite the COLUMN side, so pruning is
    unsound and the caller skips it."""
    import datetime
    import decimal

    from pyspark.sql.types import (
        BooleanType,
        DateType,
        NumericType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dt, StringType):
        return isinstance(value, str)
    if isinstance(dt, BooleanType):
        return isinstance(value, bool)
    if isinstance(dt, NumericType):
        return isinstance(
            value, (int, float, decimal.Decimal)
        ) and not isinstance(value, bool)
    if isinstance(dt, (DateType, TimestampType, TimestampNTZType)):
        return isinstance(value, (datetime.date, datetime.datetime))
    return False


def _apply_skipping_residual(
    df: DataFrame,
    entry: dict,
    prune: list[tuple] | None,
    pk_in: list | None,
    eq: list[tuple] | None = None,
) -> DataFrame:
    """Residual filters: pruning only skips provably-disjoint buckets;
    surviving buckets still hold non-matching rows — re-applying the
    predicate makes the pruned read EXACTLY the unpruned read + WHERE.

    eq residuals use Spark's NATIVE comparison semantics (uncast
    literal, type promotion and all): the result of a pruned read is
    defined as the full read + ``.where(col == lit(value))``, exactly
    what a user would write. Bloom pruning is applied only when the
    literal's type family matches the column's (see _skipping_keep) —
    there the cast-rendered hash is provably sound under promotion;
    cross-family predicates (a numeric literal on a string column
    promotes the COLUMN, so '05' = 5 is true and no finite bloom can
    enumerate the matching strings) skip pruning entirely and stay
    exact through the residual. An unconditional cast here was a
    reproduced regression: lit(5.7) cast to int matched v=5."""
    if prune:
        for col, lo, hi in prune:
            df = df.where(F.col(col).isNotNull())
            if lo is not None:
                df = df.where(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.where(F.col(col) <= F.lit(hi))
    if pk_in is not None:
        vals = [v for v in dict.fromkeys(pk_in) if v is not None]
        df = df.where(
            F.col(entry["pk"]).isin(vals) if vals else F.lit(False)
        )
    for col, value in eq or []:
        df = df.where(
            F.col(col).isNull()
            if value is None
            else F.col(col) == F.lit(value)
        )
    return df


def _manifest_read_schema(entry: dict) -> StructType | None:
    """The PHYSICAL read schema of a committed snapshot, from the
    manifest alone (Delta's rule: the schema lives in the log, never
    in data-file footers): the recorded ``schema_json`` plus the typed
    ALTER-added columns, mapped through ``column_map``, minus dropped
    columns and the bucket column. It is a superset of every
    generation's file schema, so a column a file lacks (pre-ALTER
    generations) reads as NULL — what the merged-schema footer pass
    used to compute with one Spark job per scan. ``None`` for
    pre-format manifests that recorded no schema."""
    import json as _json

    from pyspark.sql.types import StructField, _parse_datatype_string

    sj = entry.get("schema_json")
    if sj is None:
        return None
    added = entry.get("added_columns") or {}
    skip = set(entry.get("dropped_columns") or []) | {MERGE_BUCKET_COL}
    fields = [
        StructField(_phys_name(entry, f.name), f.dataType)
        for f in StructType.fromJson(_json.loads(sj)).fields
        if f.name not in skip and f.name not in added
    ]
    fields += [
        StructField(_phys_name(entry, c), _parse_datatype_string(spec["type"]))
        for c, spec in added.items()
        if c not in skip
    ]
    return StructType(fields)


def _read_physical(
    spark: SparkSession, manifest: dict, *paths,
    schema: StructType | None = None,
) -> DataFrame:
    """Scan committed bucket paths under an EXPLICIT schema — ``schema``
    (the physical schema a caller just wrote) or the manifest's
    recorded one (:func:`_manifest_read_schema`): no footer read and no
    Spark job at plan time. Only pre-format manifests without a
    recorded schema still infer from footers (merged across files once
    an ALTER made generations differ in columns)."""
    if schema is None:
        schema = _manifest_read_schema(manifest)
    if schema is not None:
        return spark.read.schema(schema).parquet(*paths)
    reader = spark.read
    if manifest.get("added_columns") or manifest.get("dropped_columns"):
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*paths)


def _read_dv(spark: SparkSession, entry: dict, *paths) -> DataFrame:
    """Scan deletion-vector sidecars: one ``__dv_pk`` column of the
    recorded pk type (inferred only for pre-format manifests)."""
    from pyspark.sql.types import StructField

    dt = _recorded_col_type(entry, entry["pk"])
    reader = spark.read
    if dt is not None:
        reader = reader.schema(StructType([StructField(DV_PK_COL, dt)]))
    return reader.parquet(*paths).select(DV_PK_COL)


# Type changes Spark's Parquet reader applies to OLD files when the
# read schema is wider (checked on Spark 4.1, vectorized and parquet-mr
# readers alike): physical type -> the types it can be read as.
# Decimals widen by precision at the same scale (_type_widens).
_READ_WIDENINGS = {
    "tinyint": {"smallint", "int", "bigint", "double"},
    "smallint": {"int", "bigint", "double"},
    "int": {"bigint", "double"},
    "float": {"double"},
}


def _type_widens(old, new, same_rendering: bool) -> bool:
    """Can files written as ``old`` be read as ``new``? With
    ``same_rendering``, only widenings that keep the string rendering
    (integers, decimals at the same scale) qualify: the pk's rendering
    is its bucket hash, and Bloom sidecars hash rendered values, so a
    ``5`` that reads back as ``5.0`` would land in another bucket."""
    from pyspark.sql.types import DecimalType

    if isinstance(old, DecimalType) and isinstance(new, DecimalType):
        return new.scale == old.scale and new.precision > old.precision
    wider = _READ_WIDENINGS.get(old.simpleString(), set())
    if same_rendering:
        wider = wider - {"double"}
    return new.simpleString() in wider


def _adopt_written_schema(entry: dict, written: StructType | None) -> dict:
    """Keep the recorded schema TRUE after a bucket write: ``written``
    is the physical schema of the frame the commit wrote. A column
    whose written type is the recorded one — or narrower in a way the
    reader widens (a rebase onto a head that already widened) — needs
    nothing; a column written WIDER in a way the reader applies to the
    old files (long into int, double into float) has the wider type
    recorded in the returned entry, committed atomically with the
    data; anything else raises before the commit, since no single
    read schema could serve both the old files and the new ones.
    Pre-format manifests (no recorded schema) pass through."""
    import json as _json

    recorded = None if written is None else _manifest_read_schema(entry)
    if recorded is None:
        return entry
    rec = {f.name: f.dataType for f in recorded.fields}
    rev = {p: c for c, p in _column_map(entry).items()}
    # bytes of a column a concurrent DROP removed are projected out by
    # every reader, like the old generations' copies of it
    dropped = {
        _phys_name(entry, c) for c in entry.get("dropped_columns") or []
    }
    pinned = {_phys_name(entry, entry["pk"])} | {
        _phys_name(entry, c)
        for key in entry.get("bloom_cols") or []
        for c in _bloom_key_cols(key)
    }
    wider: dict = {}
    for f in written.fields:
        if f.name == MERGE_BUCKET_COL or f.name in dropped:
            continue
        old = rec.get(f.name)
        if old is None:
            raise ValueError(
                f"write produced column {f.name!r}, which the table's "
                f"recorded schema does not have ({sorted(rec)})"
            )
        keep = f.name in pinned
        if old.simpleString() == f.dataType.simpleString() or _type_widens(
            f.dataType, old, keep
        ):
            continue
        if not _type_widens(old, f.dataType, keep):
            raise ValueError(
                f"write changes column {rev.get(f.name, f.name)!r} from "
                f"{old.simpleString()} to {f.dataType.simpleString()}, "
                "which the parquet reader cannot apply to the files "
                "already committed; cast the input to "
                f"{old.simpleString()}"
            )
        wider[rev.get(f.name, f.name)] = f.dataType
    if not wider:
        return entry
    out = dict(entry)
    doc = _json.loads(entry["schema_json"])
    for fld in doc["fields"]:
        if fld["name"] in wider:
            fld["type"] = wider.pop(fld["name"]).jsonValue()
    out["schema_json"] = _json.dumps(doc)
    if wider:
        # what is left widened ALTER-added columns
        out["added_columns"] = {
            c: {**spec, "type": wider[c].simpleString()} if c in wider else spec
            for c, spec in entry["added_columns"].items()
        }
    return out


def _write_generation(
    df: DataFrame, root: str, gen: str, entry: dict
) -> StructType:
    """Write a logical frame as one new generation of bucket files
    under ``<root>/<gen>`` — THE bucket writer of every rewriting verb
    — and return the physical schema written, which the verb hands to
    the commit core so the recorded schema follows it
    (:func:`_adopt_written_schema`). A type change the reader cannot
    apply raises here, before any file is written. A frame that
    already carries the bucket column (OPTIMIZE's clustered layout)
    is written as it is partitioned."""
    if MERGE_BUCKET_COL not in df.columns:
        df = df.withColumn(
            MERGE_BUCKET_COL, _bucket_expr(entry["pk"], entry["n_buckets"])
        )
    out = _to_physical(df, entry)
    written = out.drop(MERGE_BUCKET_COL).schema
    _adopt_written_schema(entry, written)
    out.write.mode("errorifexists").partitionBy(MERGE_BUCKET_COL).parquet(
        os.path.join(root, gen)
    )
    return written


# ---------------------------------------------------------------------------
# Manifest-level data skipping: per-bucket column stats, committed
# atomically with the data they describe (the Delta/Iceberg
# manifest-stats idea on the engine's own commit chain). Stats are
# maintained by EVERY bucket-rewriting commit — merge, delete,
# CDC-apply, compaction — and the commit core (_stamp_table) purges
# the entries of any bucket it rewrites before overlaying fresh ones,
# so a stale stat (which would prune live rows: data loss at read
# time) is impossible by construction, not by caller discipline.
# ---------------------------------------------------------------------------

# types whose min/max round-trip JSON without precision traps.
# Deliberately excluded: decimals (Decimal→float rounding could move a
# committed max BELOW a query bound and prune a matching bucket),
# binary, and every nested type.
_STATS_TYPES = {
    "tinyint", "smallint", "int", "bigint",
    "float", "double", "boolean", "string", "date",
}


def _stats_type_ok(dtype: str) -> bool:
    return dtype in _STATS_TYPES or dtype.startswith("timestamp")


def _stats_value(v):
    """JSON-safe stat encoding. Dates/timestamps become ISO-8601
    strings — lexicographic order IS chronological order for ISO, so
    bound comparisons stay exact (timestamps are naive in the pinned
    UTC session). Unknown types encode as None (= no stat, never
    pruned on)."""
    import datetime

    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


_ISO_DATE_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")
_ISO_TS_RE = re.compile(r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}")


def _temporal_norm(s: str) -> str:
    """Canonical temporal rendering: bare dates pad to midnight,
    ISO 'T' separators become the engine's space separator. Identity
    for anything non-temporal."""
    if _ISO_DATE_RE.match(s):
        return s + " 00:00:00"
    if _ISO_TS_RE.match(s) and s[10] == "T":
        return s[:10] + " " + s[11:]
    return s


def _stats_cmp(a, b):
    """Compare two JSON-encoded stat values; None = incomparable
    (mixed domains), which every pruning decision treats as
    inconclusive → bucket is read.

    Strings are compared under BOTH interpretations — raw
    lexicographic (a genuine string column) and temporally normalized
    (dates pad to midnight, 'T' separators become spaces — the
    engine's own stat rendering). Only a verdict both interpretations
    AGREE on is returned; a disagreement means the verdict depends on
    the column type the manifest stat does not record, so it is
    inconclusive and the bucket is read. Without this, a datetime
    bound on a DATE stat ('2024-07-01' < '2024-07-01 00:00:00') or an
    isoformat() 'T'-bound on a timestamp stat (' ' < 'T') pruned
    MATCHING buckets — silent data loss, both reproduced in
    tests/test_stats_pruning.py."""
    num = (int, float)
    if isinstance(a, bool) or isinstance(b, bool):
        if isinstance(a, bool) and isinstance(b, bool):
            return (a > b) - (a < b)
        return None
    if isinstance(a, num) and isinstance(b, num):
        return (a > b) - (a < b)
    if isinstance(a, str) and isinstance(b, str):
        raw = (a > b) - (a < b)
        na, nb = _temporal_norm(a), _temporal_norm(b)
        if (na, nb) != (a, b):
            norm = (na > nb) - (na < nb)
            return raw if raw == norm else None
        return raw
    return None


def _harvest_bucket_stats(
    spark: SparkSession, root: str, gen: str, manifest: dict,
    schema: StructType | None = None,
) -> dict[str, dict]:
    """Per-bucket min/max/null-count for the manifest's ``stats_cols``
    over one freshly written generation: a single column-pruned
    aggregation job (the files are hot in the page cache right after
    the write), collecting ≤ n_buckets rows — a bounded driver read.
    ALTER-added columns are skipped: their physical NULLs read back as
    the declared default, so physical stats would lie about them.

    When the manifest also names ``bloom_cols``, the harvest
    additionally writes one SIDECAR Bloom index file per column into
    the generation directory (``<gen>/_bloom-<col>.json``) — NOT into
    the manifest, whose size must stay O(buckets), not O(distinct
    values). Sidecars inherit the generation's immutability: a bucket
    rewrite points the manifest at a new generation whose sidecar
    carries the new bloom, so a stale bloom is structurally
    impossible, and vacuum reclaims sidecars with their generation.

    ``schema`` is the physical schema the generation was written with
    (default: the manifest's recorded one) — the scan infers nothing."""
    cols = manifest.get("stats_cols") or []
    bloom_cols = manifest.get("bloom_cols") or []
    if not cols and not bloom_cols:
        return {}
    gen_dir = os.path.join(root, gen)
    try:
        if not _present_buckets(gen_dir):
            # a generation every row of which was deleted away has no
            # bucket dirs (or none at all) — nothing to describe
            return {}
    except FileNotFoundError:
        return {}
    # the frame is PHYSICAL (raw generation read); stats_cols /
    # bloom_cols are logical. Manifest-level entries key by LOGICAL
    # names (rewritten on every RENAME commit); immutable per-file /
    # bloom SIDECARS key by PHYSICAL names — stable for the life of
    # the table, so sidecars written before and after a rename agree
    df = _read_physical(spark, manifest, gen_dir, schema=schema)
    dtypes = dict(df.dtypes)
    added = set(manifest.get("added_columns", {}))
    pairs = [(c, _phys_name(manifest, c)) for c in cols]
    use = [
        (c, p) for c, p in pairs
        if p in dtypes and c not in added and _stats_type_ok(dtypes[p])
    ]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for i, (_c, p) in enumerate(use):
        aggs += [
            F.min(F.col(p)).alias(f"__mn_{i}"),
            F.max(F.col(p)).alias(f"__mx_{i}"),
            F.sum(F.col(p).isNull().cast("long")).alias(f"__nl_{i}"),
        ]

    def entry_of(r, names) -> dict:
        ent = {"rows": r["__rows"], "cols": {}}
        for i, c in enumerate(names):
            ent["cols"][c] = {
                "min": _stats_value(r[f"__mn_{i}"]),
                "max": _stats_value(r[f"__mx_{i}"]),
                "nulls": r[f"__nl_{i}"],
            }
        return ent

    use_log = [c for c, _p in use]
    use_phys = [p for _c, p in use]

    out: dict[str, dict] = {}
    if manifest.get("file_stats") and use:
        # FINE tier opted in: ONE job grouped by (bucket, file) yields
        # both tiers — per-file entries land in the generation's
        # sidecar (immutable + vacuumed with it, like blooms), and the
        # bucket entries derive from them in the driver (min of mins,
        # max of maxes, sums). Driver cost is O(files), bounded by the
        # write parallelism per commit.
        per_file: dict[str, dict[str, dict]] = {}
        rows = (
            df.groupBy(
                MERGE_BUCKET_COL, F.input_file_name().alias("__file")
            )
            .agg(*aggs)
            .collect()
        )
        for r in rows:
            b = str(r[MERGE_BUCKET_COL])
            fname = os.path.basename(r["__file"])
            per_file.setdefault(b, {})[fname] = entry_of(r, use_phys)
        for b, files in per_file.items():
            ents = list(files.values())
            merged = {
                "rows": sum(e["rows"] for e in ents),
                "cols": {},
            }
            for c, p in use:
                mns = [e["cols"][p]["min"] for e in ents
                       if e["cols"][p]["min"] is not None]
                mxs = [e["cols"][p]["max"] for e in ents
                       if e["cols"][p]["max"] is not None]
                merged["cols"][c] = {
                    "min": min(mns) if mns else None,
                    "max": max(mxs) if mxs else None,
                    "nulls": sum(e["cols"][p]["nulls"] for e in ents),
                }
            out[b] = merged
        import json as _json

        with open(os.path.join(gen_dir, _FILESTATS_SIDECAR), "w") as f:
            _json.dump(per_file, f)
    else:
        for r in df.groupBy(MERGE_BUCKET_COL).agg(*aggs).collect():
            out[str(r[MERGE_BUCKET_COL])] = entry_of(r, use_log)
    if bloom_cols:
        import json as _json

        for c in bloom_cols:
            parts = _bloom_key_cols(c)
            parts_phys = [_phys_name(manifest, x) for x in parts]
            if any(
                pp not in dtypes or pl in added
                for pl, pp in zip(parts, parts_phys)
            ):
                continue
            # build AND name the sidecar with physical columns: the
            # hash is over VALUES, so lookup parity with the logical
            # side holds by construction
            blobs = _build_bucket_blooms(df, parts_phys)
            # every harvested bucket gets an entry: a bucket with NO
            # non-null value of c takes the empty marker (equality on
            # a non-null literal correctly prunes it)
            index = {b: blobs.get(b, _BLOOM_EMPTY) for b in out}
            with open(
                os.path.join(gen_dir, _bloom_sidecar_name(parts_phys)), "w"
            ) as f:
                _json.dump(index, f)
    return out


def _wants_stats(entry: dict) -> bool:
    """Does this manifest/table entry maintain per-bucket metadata
    (min/max stats and/or Bloom filters) on bucket-rewriting commits?"""
    return bool(entry.get("stats_cols") or entry.get("bloom_cols"))


_FILESTATS_SIDECAR = "_filestats.json"

_BLOOM_MIN_M = 8192          # floor: 1 KiB per bucket
_BLOOM_MAX_M = 1 << 23       # cap: 1 MiB per bucket (beyond ~800k
                             # distinct the filter degrades honestly)
_BLOOM_K = 6
_BLOOM_EMPTY = {"empty": True}  # bucket with no non-null values


def _recorded_col_type(entry: dict, col: str):
    """The DataType the manifest's recorded schema declares for
    ``col`` (None for pre-format manifests or unknown columns) — the
    single source for literal rendering/casting in pk_value_buckets,
    bloom lookups, and eq residuals."""
    sj = entry.get("schema_json")
    if not sj:
        return None
    import json as _json

    from pyspark.sql.types import StructType

    fld = next(
        (
            f
            for f in _json.loads(sj).get("fields", [])
            if f.get("name") == col
        ),
        None,
    )
    if fld is None:
        return None
    return StructType.fromJson({"type": "struct", "fields": [fld]})[
        col
    ].dataType


def _bloom_key_cols(entry) -> list[str]:
    """Normalize one ``bloom_cols`` entry: a string is a single-column
    key, a list/tuple is a COMPOSITE key (indexed over the tuple of
    values — the multi-column point-predicate case where per-column
    blooms each pass but the combination is absent)."""
    return [entry] if isinstance(entry, str) else list(entry)


def _bloom_sidecar_name(cols) -> str:
    """Sidecar filename for a bloom key (single column or composite),
    percent-encoded per component so separators, commas, or dots in
    legal Spark column names cannot escape the generation directory
    or collide between keys (symmetric on build and lookup). A
    single-column key keeps the historical ``_bloom-<col>.json`` name
    — existing sidecars stay readable."""
    from urllib.parse import quote

    parts = _bloom_key_cols(cols)
    return "_bloom-" + ",".join(quote(c, safe="") for c in parts) + ".json"


def _bloom_hash_cols(cols):
    """The two typed hash expressions double-hashing derives the k
    Bloom probes from — the SAME expressions on the build and the
    lookup side, so parity holds by construction. Position i =
    ``((h1 + i*h2) mod 2^64) mod m`` on uint64 wrap arithmetic.
    Composite keys hash every component into ONE xxhash64 (tuple
    identity, order-significant as declared)."""
    parts = [F.col(c) for c in _bloom_key_cols(cols)]
    return (
        F.xxhash64(*parts),
        F.xxhash64(*parts, F.lit(1)),
    )


def _build_bucket_blooms(df: DataFrame, c: str) -> dict[str, dict]:
    """One grouped Arrow pass: per bucket, set the k double-hashed bit
    positions of every DISTINCT non-null value of ``c`` into a Bloom
    bitset sized for THAT bucket's cardinality (m = next power of two
    ≥ 10 bits/distinct, floor 1 KiB, cap 1 MiB — a fixed m saturates
    and silently stops pruning once distinct counts outgrow it, which
    is exactly what the first probe run measured at 19.5k
    distinct/bucket against 8 Kib). Bitsets ship zlib-compressed —
    sparse filters compress well; a saturated one would not, but
    adaptive sizing keeps occupancy near the optimal ~50%."""
    import base64
    import zlib

    h1, h2 = _bloom_hash_cols(c)
    nonnull = F.lit(True)
    for part in _bloom_key_cols(c):
        # only fully non-null keys index: a composite equality with
        # all-non-null literals never matches a row with any NULL part
        nonnull = nonnull & F.col(part).isNotNull()
    src = (
        df.where(nonnull)
        .select(
            F.col(MERGE_BUCKET_COL).alias("__mb"),
            h1.alias("__h1"),
            h2.alias("__h2"),
        )
        # distributed dedup BEFORE the grouped Arrow pass: the pandas
        # group must be bounded by the bucket's DISTINCT count, not
        # its row count (a billion-row bucket would OOM one executor)
        .distinct()
    )
    k = _BLOOM_K

    def build(pdf):
        import numpy as np
        import pandas as pd

        # rows arrive pre-deduplicated by the distributed .distinct()
        pu1 = pdf["__h1"].to_numpy().astype(np.uint64)
        pu2 = pdf["__h2"].to_numpy().astype(np.uint64)
        nd = len(pu1)
        m = _BLOOM_MIN_M
        while m < 10 * nd and m < _BLOOM_MAX_M:
            m *= 2
        bits = np.zeros(m // 8, dtype=np.uint8)
        with np.errstate(over="ignore"):
            for i in range(k):
                pos = ((pu1 + np.uint64(i) * pu2) % np.uint64(m)).astype(
                    np.int64
                )
                np.bitwise_or.at(
                    bits, pos // 8, (1 << (pos % 8)).astype(np.uint8)
                )
        return pd.DataFrame(
            {
                "__mb": [int(pdf["__mb"].iloc[0])],
                "m": [m],
                "b": [zlib.compress(bits.tobytes(), 6)],
            }
        )

    return {
        str(r["__mb"]): {
            "b": base64.b64encode(r["b"]).decode("ascii"),
            "m": int(r["m"]),
            "k": k,
        }
        for r in src.groupBy("__mb")
        .applyInPandas(build, schema="__mb int, m long, b binary")
        .collect()
    }


def _bloom_lookup_hashes(
    spark: SparkSession, manifest: dict, cols, values
) -> tuple[int, int]:
    """(h1, h2) for one literal (or composite literal tuple), hashed
    EXACTLY as the build side did: each literal is cast to the
    manifest's recorded column type first (same rendering rule as
    :func:`pk_value_buckets`), then run through
    :func:`_bloom_hash_cols` in one tiny Spark job."""
    parts = _bloom_key_cols(cols)
    vals = values if isinstance(values, (list, tuple)) else [values]
    df = spark.createDataFrame([tuple(vals)], parts)
    casts = []
    for c in parts:
        dt = _recorded_col_type(manifest, c)
        casts.append(
            F.col(c).cast(dt).alias(c) if dt is not None else F.col(c)
        )
    df = df.select(*casts)
    h1, h2 = _bloom_hash_cols(cols)
    r = df.select(h1.alias("h1"), h2.alias("h2")).collect()[0]
    return r.h1, r.h2


def bloom_prune_buckets(
    root: str, manifest: dict, col: str, h1: int, h2: int
) -> list[str]:
    """Bucket ids that MAY contain ``col = value`` given the value's
    (h1, h2). Each bucket's bloom lives in ITS generation's sidecar
    (``<gen>/_bloom-<col>.json`` — loaded once per distinct
    generation, not per bucket), so a bucket is checked against
    exactly the filter committed WITH its data. Skipped only when the
    filter proves the value absent (all-null buckets carry the empty
    marker and prune too); buckets whose generation has no sidecar
    (raw commits, pre-bloom history) are conservatively read."""
    import base64
    import json as _json
    import zlib

    u = 1 << 64
    hu1, hu2 = h1 % u, h2 % u
    by_gen: dict[str, list[str]] = {}
    for b, gen in manifest["buckets"].items():
        by_gen.setdefault(gen, []).append(b)
    # sidecars are keyed by PHYSICAL column names (stable across
    # renames); the caller's key is logical
    sidecar = _bloom_sidecar_name(
        [_phys_name(manifest, x) for x in _bloom_key_cols(col)]
    )
    out = []
    for gen, bs in by_gen.items():
        try:
            with open(os.path.join(root, gen, sidecar)) as f:
                index = _json.load(f)
        except (FileNotFoundError, ValueError):
            out.extend(bs)  # no sidecar: conservative
            continue
        for b in bs:
            ent = index.get(b)
            if ent is None:
                out.append(b)
                continue
            if ent.get("empty"):
                continue  # no non-null values: provably absent
            bits = zlib.decompress(base64.b64decode(ent["b"]))
            m, k = ent["m"], ent["k"]
            hit = True
            for i in range(k):
                pos = ((hu1 + i * hu2) % u) % m
                if not (bits[pos // 8] >> (pos % 8)) & 1:
                    hit = False
                    break
            if hit:
                out.append(b)
    return out


def _eq_stats_sound(entry: dict, col: str, value) -> bool:
    """May an equality literal be treated as the degenerate range
    [v, v] against min/max stats? Requires a RECORDED column type in
    the SAME family as the literal (the Bloom tier's gate): across
    families Spark's promotion may rewrite the literal into the
    column's domain (a lenient date-string cast), making a
    lexicographic stats 'proof' of absence wrong. Unknown columns and
    pre-format manifests are conservatively unprunable."""
    dt = _recorded_col_type(entry, col)
    return dt is not None and _eq_bloom_sound(dt, value)


def _file_tier_conjuncts(
    entry: dict, prune: list[tuple] | None, eq: list[tuple] | None
) -> tuple[list[tuple], list[str]]:
    """The predicate parts the FILE tier can evaluate from min/max/
    null-count stats alone: every range conjunct, every SAME-FAMILY
    equality as the degenerate range [v, v] (the
    :func:`_eq_stats_sound` gate, identical to the bucket tier), plus
    IS NULL columns (a file with zero nulls is disjoint).
    Cross-family equalities are excluded — their residual may cast
    the literal into the column's domain."""
    conjs = list(prune or [])
    null_cols: list[str] = []
    for col, value in eq or []:
        if value is None:
            null_cols.append(col)
        elif _eq_stats_sound(entry, col, value):
            conjs.append((col, value, value))
    return conjs, null_cols


def _pruned_bucket_paths(
    root: str,
    entry: dict,
    keep: set[str],
    prune: list[tuple] | None,
    eq: list[tuple] | None,
) -> list[str]:
    """Concrete scan paths for the surviving buckets. Without the
    ``file_stats`` opt-in (or without a predicate) each bucket
    contributes its directory; with it, each bucket contributes only
    the FILES whose sidecar stats cannot refute the predicate — the
    fine tier under the manifest's coarse tier. A generation without
    a sidecar (written before the opt-in) conservatively reads whole
    directories; a file missing from its sidecar is conservatively
    read."""
    survivors = [
        (b, gen)
        for b, gen in sorted(entry["buckets"].items())
        if b in keep
    ]
    if not (entry.get("file_stats") and (prune or eq)):
        return [
            os.path.join(root, gen, f"{MERGE_BUCKET_COL}={b}")
            for b, gen in survivors
        ]
    # UPDATE-overlaid buckets skip the file tier exactly like the
    # manifest tier: their base files' sidecar stats describe
    # superseded values — pruning on them could hide a patched row's
    # base sibling and, worse, drop the bucket from the scan set the
    # overlay union keys off. Whole-directory reads keep them exact.
    patched = set(_patch_map(entry))
    file_tier = [(b, g) for b, g in survivors if b not in patched]
    whole = [
        os.path.join(root, gen, f"{MERGE_BUCKET_COL}={b}")
        for b, gen in survivors
        if b in patched
    ]
    survivors = file_tier
    import json as _json

    conjs, null_cols = _file_tier_conjuncts(entry, prune, eq)
    # file-stats sidecars key by PHYSICAL names (stable across
    # renames); the conjuncts arrive with logical names
    conjs = [(_phys_name(entry, c), lo, hi) for c, lo, hi in conjs]
    null_cols = [_phys_name(entry, c) for c in null_cols]
    added = {
        _phys_name(entry, c) for c in entry.get("added_columns", {})
    }
    sidecars: dict[str, dict | None] = {}
    paths: list[str] = []
    for b, gen in survivors:
        bdir = os.path.join(root, gen, f"{MERGE_BUCKET_COL}={b}")
        if gen not in sidecars:
            try:
                with open(os.path.join(root, gen, _FILESTATS_SIDECAR)) as f:
                    sidecars[gen] = _json.load(f)
            except (FileNotFoundError, ValueError):
                sidecars[gen] = None
        sc = sidecars[gen]
        files = (sc or {}).get(b)
        if not files:
            paths.append(bdir)  # pre-opt-in generation: whole dir
            continue
        present = {
            f
            for f in os.listdir(bdir)
            if f.endswith(".parquet") and not f.startswith(".")
        }
        if present - set(files):
            # a data file the sidecar does not describe: the fine
            # tier cannot speak for this bucket — read it whole
            paths.append(bdir)
            continue
        for fname in sorted(present):
            ent = files[fname]
            if not _stats_keep_entry(ent, conjs, added):
                continue
            if null_cols and any(
                c not in added
                and (ent.get("cols") or {}).get(c, {}).get("nulls") == 0
                for c in null_cols
            ):
                continue
            paths.append(os.path.join(bdir, fname))
    return paths + whole


def _zero_null_buckets(entry: dict, col: str) -> set[str]:
    """Buckets PROVEN to contain no NULL in ``col`` by the committed
    null counts — the set an ``IS NULL`` equality conjunct can skip.
    ALTER-added columns never qualify (their physical NULLs read back
    as the declared default, so the harvest records no stats and the
    conservative empty set applies)."""
    stats = entry.get("bucket_stats") or {}
    if col in (entry.get("added_columns") or {}):
        return set()
    out = set()
    for b in entry["buckets"]:
        cs = ((stats.get(b) or {}).get("cols") or {}).get(col)
        if cs is not None and cs.get("nulls") == 0:
            out.add(b)
    return out


def _stats_keep_entry(ent: dict, prune: list[tuple], added: set) -> bool:
    """May the rows summarized by one stats entry (a bucket's or a
    single file's) hold a match for every ``(col, lo, hi)`` conjunct?
    Conservative in every inconclusive case — missing stats, unknown
    column, incomparable bound — so a False is always a PROOF of
    disjointness. Shared by the bucket tier (manifest stats) and the
    file tier (generation sidecar stats)."""
    cols = ent.get("cols") or {}
    nrows = ent.get("rows")
    for col, lo, hi in prune:
        cs = None if col in added else cols.get(col)
        if cs is None:
            continue
        if nrows is not None and cs.get("nulls") == nrows:
            return False  # all-null: no non-null value can match
        mn, mx = cs.get("min"), cs.get("max")
        lo_e, hi_e = _stats_value(lo), _stats_value(hi)
        if lo_e is not None and mx is not None:
            c = _stats_cmp(mx, lo_e)
            if c is not None and c < 0:
                return False
        if hi_e is not None and mn is not None:
            c = _stats_cmp(mn, hi_e)
            if c is not None and c > 0:
                return False
    return True


def stats_prune_buckets(manifest: dict, prune: list[tuple]) -> list[str]:
    """Bucket ids that MAY hold a row satisfying every ``(col, lo,
    hi)`` conjunct (``None`` bound = unbounded; every conjunct implies
    ``col IS NOT NULL``). Conservative in every inconclusive case —
    missing stats, unknown column, incomparable bound — so pruning can
    only ever skip buckets PROVEN disjoint from the predicate."""
    stats = manifest.get("bucket_stats") or {}
    added = set(manifest.get("added_columns", {}))
    return [
        b
        for b in manifest["buckets"]
        if _stats_keep_entry(stats.get(b) or {}, prune, added)
    ]


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_U64 = 0xFFFFFFFFFFFFFFFF


def _xxh64(data: bytes, seed: int = 42) -> int:
    """Reference XXH64 (Collet's public algorithm), seed 42 — the
    function behind Spark's ``xxhash64`` (Spark's XXH64.java is a
    faithful port, checked against the reference test vectors in its
    own suite; our parity is additionally property-tested against the
    live expression in tests/test_stats_pruning.py). Exists so a
    point lookup can compute its pk-hash buckets in pure driver
    Python — zero Spark jobs — for string keys."""
    import struct

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) & _U64

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _U64
        v2 = (seed + _XXH_P2) & _U64
        v3 = seed & _U64
        v4 = (seed - _XXH_P1) & _U64
        while i + 32 <= n:
            k1, k2, k3, k4 = struct.unpack_from("<QQQQ", data, i)
            v1 = (rotl((v1 + k1 * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
            v2 = (rotl((v2 + k2 * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
            v3 = (rotl((v3 + k3 * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
            v4 = (rotl((v4 + k4 * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & _U64
        for v in (v1, v2, v3, v4):
            h = ((h ^ (rotl((v * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64)
                 * _XXH_P1 + _XXH_P4) & _U64
    else:
        h = (seed + _XXH_P5) & _U64
    h = (h + n) & _U64
    while i + 8 <= n:
        (k,) = struct.unpack_from("<Q", data, i)
        h = (h ^ ((rotl((k * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64)) & _U64
        h = ((rotl(h, 27) * _XXH_P1) + _XXH_P4) & _U64
        i += 8
    if i + 4 <= n:
        (k,) = struct.unpack_from("<I", data, i)
        h = (h ^ ((k * _XXH_P1) & _U64)) & _U64
        h = ((rotl(h, 23) * _XXH_P2) + _XXH_P3) & _U64
        i += 4
    while i < n:
        h = (h ^ ((data[i] * _XXH_P5) & _U64)) & _U64
        h = (rotl(h, 11) * _XXH_P1) & _U64
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _U64
    h ^= h >> 29
    h = (h * _XXH_P3) & _U64
    h ^= h >> 32
    return h


# integer pk types by Spark typeName() -> bit width
_INT_PK_BITS = {"byte": 8, "short": 16, "integer": 32, "long": 64}


def pk_value_buckets(
    spark: SparkSession, manifest: dict, values: list
) -> list[int]:
    """Exact bucket ids for a bounded set of key values. The layout
    hashes the pk's STRING RENDERING (:func:`_bucket_expr` casts to
    string before xxhash64), so the value must be rendered exactly as
    the COLUMN type renders it — a Decimal literal inferred as
    decimal(38,18) renders '5.000000000000000000' while a
    decimal(10,2) column renders '5.00', a different bucket and a
    silently-empty lookup.

    Two key shapes resolve in pure driver Python (:func:`_xxh64` —
    zero Spark jobs, the O(1)-latency point-lookup path): ``str``
    values of a recorded-string pk, and Python ``int`` values (not
    ``bool``) of a recorded tinyint/smallint/int/bigint pk that fit
    its range — ``str(v)`` is then exactly what ``cast(v as string)``
    renders. Every other key (decimals, floats, timestamps, bools,
    out-of-range ints) goes through one tiny Spark job per Python
    type that first casts the literals to the
    recorded pk type, so the rendering is the layout's own.
    Pre-format manifests (no recorded schema) fall back to
    inferred-type hashing — best effort, exact for string keys.
    Driver cost is O(|values|) either way — for unbounded key sets
    use a left-semi join against the full read."""
    pk = manifest["pk"]
    n = manifest["n_buckets"]
    vals = [v for v in dict.fromkeys(values) if v is not None]
    pk_dt = _recorded_col_type(manifest, pk)
    kind = "string" if pk_dt is None else pk_dt.typeName()
    bits = _INT_PK_BITS.get(kind)

    def on_driver(v) -> bool:
        if kind == "string":
            return isinstance(v, str)
        return (
            bits is not None
            and isinstance(v, int)
            and not isinstance(v, bool)
            and -(1 << (bits - 1)) <= v < 1 << (bits - 1)
        )

    # Spark's xxhash64 returns a SIGNED long; pmod re-maps the
    # negative half — Python's % on a positive modulus is pmod
    out = {
        ((h - (1 << 64)) if h >= (1 << 63) else h) % n
        for h in (_xxh64(str(v).encode("utf-8")) for v in vals if on_driver(v))
    }
    # one tiny job per PYTHON type group — a mixed Decimal+float list
    # cannot share one inferred frame (CANNOT_MERGE_TYPE), and each
    # group still lands on the recorded column type via the cast
    groups: dict[type, list] = {}
    for v in vals:
        if not on_driver(v):
            groups.setdefault(type(v), []).append(v)
    col = F.col(pk).cast(pk_dt) if pk_dt is not None else None
    bucket = _bucket_expr(pk, n, col=col)
    for vs in groups.values():
        df = spark.createDataFrame([(v,) for v in vs], [pk])
        out |= {
            r.b for r in df.select(bucket.alias("b")).distinct().collect()
        }
    return sorted(out)


def _carry_bucket_stats(
    src: dict, ours: dict, our_stats: dict | None, live_buckets: dict
) -> dict:
    """Stats map for a new manifest: every bucket WE rewrote is purged
    from the inherited stats (stale stats prune live rows — the one
    unforgivable failure), then fresh harvests overlay, and only live
    buckets keep entries."""
    stats = {
        b: s
        for b, s in (src.get("bucket_stats") or {}).items()
        if b not in ours and b in live_buckets
    }
    for b, s in (our_stats or {}).items():
        if b in live_buckets and s is not None:
            stats[b] = s
    return stats


def versioned_table_stats(path: str, token: str | None = None) -> dict:
    """Metadata-only table aggregates — zero file opens, zero Spark
    jobs: answer ``count(*)``, per-column global min/max and null
    counts straight from the committed manifest's bucket stats (the
    Iceberg/Delta "metadata query" idea on the engine's own chain).

    Returns ``{"rows": int | None, "cols": {col: {"min", "max",
    "nulls"} | None}}``. Every value is EXACT or ``None`` — never an
    estimate: ``rows`` is the sum of per-bucket row counts and is
    None unless EVERY live bucket carries a stats entry (a
    raw-committer rewrite purges its bucket's entry, so coverage is
    checkable); a column's aggregate is None if any covered bucket
    lacks that column's stats. At 100 TB this turns a full-scan
    ``SELECT count(*), min(ts), max(ts)`` into a manifest read."""
    return _table_stats_from_manifest(_bucket_manifest(path, token))


def versioned_db_stats(
    path: str, token: str | None = None
) -> dict[str, dict]:
    """Metadata-only aggregates for EVERY table of a versioned
    database — the db twin of :func:`versioned_table_stats`: one
    manifest read answers count/min/max/nulls per table, same
    exact-or-None contract per entry."""
    m = _db_manifest(path, token)
    return {
        name: _table_stats_from_manifest(t)
        for name, t in sorted(m.get("tables", {}).items())
    }


def _table_stats_from_manifest(manifest: dict) -> dict:
    stats = manifest.get("bucket_stats") or {}
    dv_note: dict = (
        {"dv_buckets": sorted(_dv_map(manifest), key=int)}
        if _dv_map(manifest)
        else {}
    )
    if _dv_map(manifest):
        # deletion vectors make the harvested numbers UPPER BOUNDS
        # for their buckets (deleted rows still counted, a deleted
        # row may have held the min/max): treat DV'd buckets as
        # stats-less so every answer stays exact-or-None — the
        # documented contract. A rewrite/OPTIMIZE of those buckets
        # materializes the deletes and restores metadata answers.
        stats = {
            b: e for b, e in stats.items() if b not in _dv_map(manifest)
        }
    live = list(manifest["buckets"])
    out: dict = {
        "rows": None,
        "cols": {c: None for c in manifest.get("stats_cols") or []},
        # operator visibility: which buckets carry merge-on-read
        # deletes (their metadata answers are suppressed above)
        **dv_note,
    }
    if not live:
        out["rows"] = 0
        return out
    if any(b not in stats or stats[b].get("rows") is None for b in live):
        return out
    out["rows"] = sum(stats[b]["rows"] for b in live)
    for c in manifest.get("stats_cols") or []:
        ents = [stats[b]["cols"].get(c) for b in live]
        if any(e is None for e in ents):
            out["cols"][c] = None
            continue
        nulls = sum(e["nulls"] for e in ents)
        # a bucket that is ALL null contributes no min/max; ignore it
        # for the bounds but keep its null count
        mins = [e["min"] for e in ents if e["min"] is not None]
        maxs = [e["max"] for e in ents if e["max"] is not None]
        mn = mx = None
        if mins and maxs:
            mn, mx = mins[0], maxs[0]
            for v in mins[1:]:
                cv = _stats_cmp(v, mn)
                if cv is None:
                    mn = None
                    break
                if cv < 0:
                    mn = v
            for v in maxs[1:]:
                cv = _stats_cmp(v, mx)
                if cv is None:
                    mx = None
                    break
                if cv > 0:
                    mx = v
        out["cols"][c] = {"min": mn, "max": mx, "nulls": nulls}
    return out


def _footer_columns(*bucket_dirs: str) -> set[str]:
    """Physical column names read straight from one parquet footer
    (pyarrow — no SparkSession needed). One footer is representative:
    every write lands the full frame schema in every bucket, and the
    only schema divergence between generations is ALTER-added columns,
    which are checked against the manifest separately.

    A ZERO-bucket table (no dirs passed — empty-frame init) has
    provably no physical files, so the empty set is the truth, not a
    vacuous pass. But REGISTERED bucket dirs with no readable footer
    mean "could not verify", which must never read as "no collision"
    (that would let an ALTER silently rewrite an existing column's
    NULLs to the default on every read) — that case raises."""
    import pyarrow.parquet as pq

    if not bucket_dirs:
        return set()
    for bdir in bucket_dirs:
        try:
            names = sorted(os.listdir(bdir))
        except FileNotFoundError:
            continue
        for f in names:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                return set(pq.read_schema(os.path.join(bdir, f)).names)
    raise FileNotFoundError(
        "no parquet footer found to verify the physical schema against "
        "(damaged table: registered buckets without data files) — "
        "repair the table"
    )


def _violation_predicate(expr: str):
    """Rows VIOLATE a CHECK constraint only when it evaluates to
    FALSE — NULL (unknown) passes, exactly SQL's CHECK semantics. A
    NOT NULL column is therefore the constraint ``col IS NOT NULL``
    (which is FALSE, not NULL, on a null value)."""
    return ~F.coalesce(F.expr(expr), F.lit(True))


def _bounded_repr(rows, limit: int = 400) -> str:
    s = repr([r.asDict(recursive=False) for r in rows])
    return s if len(s) <= limit else s[: limit - 3] + "..."


def _check_constraints_frame(df: DataFrame, constraints: dict, context: str) -> None:
    """Raise :class:`ConstraintViolationError` when any row of ``df``
    violates any CHECK constraint. ONE aggregation pass counts
    violations for every constraint together (adding a constraint
    never adds a scan); only on failure does a second bounded job
    fetch sample rows for the first failing constraint."""
    if not constraints:
        return
    names = sorted(constraints)
    counts = df.agg(
        *[
            F.sum(_violation_predicate(constraints[n]).cast("long")).alias(
                f"__c{i}"
            )
            for i, n in enumerate(names)
        ]
    ).collect()[0]
    failing = [
        (n, counts[f"__c{i}"])
        for i, n in enumerate(names)
        if (counts[f"__c{i}"] or 0) > 0
    ]
    if not failing:
        return
    name, cnt = failing[0]
    sample = df.where(_violation_predicate(constraints[name])).limit(3).collect()
    more = (
        f"; {len(failing) - 1} more failing: {[n for n, _ in failing[1:]]}"
        if len(failing) > 1
        else ""
    )
    raise ConstraintViolationError(
        f"{context}: CHECK constraint {name!r} ({constraints[name]}) "
        f"violated by {cnt} row(s), e.g. {_bounded_repr(sample)}{more}"
    )


def _enforce_constraints(
    spark: SparkSession, root: str, entry: dict, gen: str,
    schema: StructType | None = None,
) -> None:
    """Validate ONE freshly written generation against the table's
    CHECK constraints before its commit is claimed — the write-side
    enforcement choke point shared by init, MERGE, UPDATE, and
    CDC-apply on both layouts. Only the rows being committed are
    checked (untouched buckets were validated when written, and
    ALTER ADD CONSTRAINT validates the whole table once): cost tracks
    change volume, not table size. DELETE and OPTIMIZE skip it — they
    only remove or re-arrange rows that already passed. ``schema`` is
    the physical schema the generation was written with."""
    cons = entry.get("constraints")
    if not cons:
        return
    gen_dir = os.path.join(root, gen)
    try:
        if not _present_buckets(gen_dir):
            return
    except FileNotFoundError:
        return
    df = _fill_added_columns(
        _read_logical(spark, entry, gen_dir, schema=schema), entry
    )
    _check_constraints_frame(df, cons, root)


def alter_versioned_add_constraint(
    spark: SparkSession, path: str, name: str, expr: str
) -> dict:
    """Add a named CHECK constraint (a SQL boolean expression over the
    table's columns) as a METADATA-ONLY chain commit — after first
    validating every EXISTING row against it (Delta's ADD CONSTRAINT
    contract: you cannot constrain a table into an already-violated
    state). From this commit on, every data-writing commit (init,
    MERGE, UPDATE, CDC-apply — including the streaming upsert sink,
    which rides MERGE) validates the rows it is about to publish and
    refuses the whole commit on any violation
    (:class:`ConstraintViolationError`), so committed data can never
    regress the invariant. SQL CHECK semantics: NULL passes, FALSE
    violates — ``col IS NOT NULL`` is exactly a NOT NULL column.

    The existing-data validation re-runs inside the claim loop
    whenever a lost race reveals a head whose bucket map changed —
    a concurrent merge may have committed rows the first validation
    never saw."""
    return _add_constraint(spark, path, None, name, expr)


def _add_constraint(
    spark: SparkSession, path: str, table: str | None, name: str, expr: str
) -> dict:
    if not isinstance(expr, str) or not expr.strip():
        raise ValueError("constraint expression must be a non-empty SQL string")
    validated: dict | None = None

    def edit(t: dict, root: str) -> dict:
        nonlocal validated
        cons = dict(t.get("constraints") or {})
        if name in cons:
            raise ValueError(
                f"{root}: constraint {name!r} already exists ({cons[name]})"
            )
        if validated != t["buckets"]:
            _check_constraints_frame(
                _read_entry(spark, root, t), {name: expr}, root
            )
            validated = dict(t["buckets"])
        return {**t, "constraints": {**cons, name: expr}}

    return _commit_meta_edit(path, edit, table)


def alter_versioned_drop_constraint(path: str, name: str) -> dict:
    """Drop a named CHECK constraint — metadata-only chain commit;
    raises if the constraint does not exist (a silent no-op would hide
    typos from operators disabling enforcement on purpose)."""
    return _commit_meta_edit(path, _drop_constraint_edit(name))


def _drop_constraint_edit(name: str):
    def edit(t: dict, root: str) -> dict:
        cons = dict(t.get("constraints") or {})
        if name not in cons:
            raise ValueError(
                f"{root}: no constraint {name!r} "
                f"(has: {sorted(cons) or 'none'})"
            )
        del cons[name]
        out = {k: v for k, v in t.items() if k != "constraints"}
        if cons:
            out["constraints"] = cons
        return out

    return edit


def _constraint_references(constraints: dict, col: str) -> list[str]:
    """Constraint names whose expression mentions ``col`` as a bare
    or quoted identifier — a conservative TEXT check (no SQL parse),
    so a false positive merely blocks a drop the operator can redo
    after dropping the constraint; a false negative cannot happen for
    a syntactically valid reference."""
    pat = re.compile(
        r"(?<![A-Za-z0-9_])" + re.escape(col) + r"(?![A-Za-z0-9_])"
    )
    return sorted(
        name
        for name, expr in (constraints or {}).items()
        if pat.search(expr) or f"`{col}`" in expr
    )


def _strip_dropped_metadata(m: dict, cols: set[str]) -> None:
    """Remove every per-column artifact of the dropped columns from a
    manifest/table entry IN PLACE: skipping stats columns, bloom keys
    (a composite key dies with any component), per-bucket stats
    entries, and added-column specs. Generation sidecars are NOT
    touched — they are immutable and only ever consulted for columns
    a query names, which a dropped column no longer can be."""
    if m.get("stats_cols"):
        kept = [c for c in m["stats_cols"] if c not in cols]
        if kept:
            m["stats_cols"] = kept
        else:
            m.pop("stats_cols", None)
            # the fine tier rides on stats_cols: leaving the flag
            # orphaned would make a later parameterless re-init
            # inherit file_stats=True with no stats columns and fail
            # its own validation after writing the new generation
            m.pop("file_stats", None)
    if m.get("bloom_cols"):
        kept_b = [
            e
            for e in m["bloom_cols"]
            if not (set(_bloom_key_cols(e)) & cols)
        ]
        if kept_b:
            m["bloom_cols"] = kept_b
        else:
            m.pop("bloom_cols", None)
    for ent in (m.get("bucket_stats") or {}).values():
        for c in cols:
            (ent.get("cols") or {}).pop(c, None)
    for c in cols:
        (m.get("added_columns") or {}).pop(c, None)
    if "added_columns" in m and not m["added_columns"]:
        m.pop("added_columns")


def _validate_drop_columns(
    entry: dict, root: str, columns: list[str]
) -> None:
    """Shared DROP COLUMN validation: reserved/key columns refused,
    the column must exist (recorded schema, ALTER-added, or physical
    footer), must not already be dropped, and must not be referenced
    by a CHECK constraint (drop the constraint first — a constraint
    silently evaluating against a vanished column would either error
    every commit or, worse, pass vacuously)."""
    import json as _json

    known: set[str] = set(entry.get("columns") or [])
    sj = entry.get("schema_json")
    if sj:
        known |= {f["name"] for f in _json.loads(sj)["fields"]}
    known |= set(entry.get("added_columns") or {})
    already = set(entry.get("dropped_columns") or [])
    cmap = _column_map(entry)
    rev_phys = {p: l for l, p in cmap.items()}
    physical: set[str] | None = None
    for col in columns:
        if col in rev_phys and col not in known:
            # the OLD physical name of a renamed column: the footer
            # fallback below would accept it, splitting the drop
            # between the physical and logical namespaces
            raise ValueError(
                f"{root}: column {col!r} was renamed to "
                f"{rev_phys[col]!r}; drop it by its current name"
            )
        if col == entry["pk"]:
            raise ValueError(f"{root}: cannot drop the key column {col!r}")
        if col == MERGE_BUCKET_COL:
            raise ValueError(
                f"{root}: {col!r} is the reserved bucket column"
            )
        if col in already:
            raise ValueError(f"{root}: column {col!r} is already dropped")
        if col not in known:
            if physical is None:
                physical = _alter_collision_columns(
                    root, entry, repair="write_versioned_table"
                )
            if col not in physical:
                raise ValueError(
                    f"{root}: no column {col!r} to drop "
                    f"(known: {sorted((known | (physical or set())) - {MERGE_BUCKET_COL})})"
                )
        refs = _constraint_references(entry.get("constraints"), col)
        if refs:
            raise ValueError(
                f"{root}: column {col!r} is referenced by CHECK "
                f"constraint(s) {refs}; drop them first"
            )


def alter_versioned_drop_columns(
    path: str, columns: list[str], spark: SparkSession | None = None
) -> dict:
    """Metadata-only ALTER DROP COLUMN (Delta's drop-without-rewrite):
    one chain commit records the names under ``dropped_columns`` —
    zero parquet rewrites. Readers project the columns out from this
    commit on; pre-drop tokens time-travel WITH them (the bytes are
    still there); every bucket a later merge/UPDATE/CDC rewrite
    touches sheds them physically — the symmetric twin of ADD's
    incremental backfill. Per-column artifacts (skipping stats, bloom
    keys — a composite key dies with any component — and ALTER-added
    specs) are stripped in the same commit.

    Re-using a dropped name later is refused by ADD COLUMN's physical
    collision check as long as any old generation still carries the
    bytes (resurrected stale values would be silent corruption); a
    full-rewrite re-init resets the drop list and frees the name.

    The key column cannot drop (it pins the bucket layout), and a
    column referenced by a CHECK constraint must lose the constraint
    first."""
    return _commit_meta_edit(path, _drop_columns_edit(columns))


def _drop_columns_edit(columns: list[str]):
    if not columns:
        raise ValueError("no columns to drop")

    def edit(t: dict, root: str) -> dict:
        _validate_drop_columns(t, root, columns)
        out = {
            **t,
            "dropped_columns": sorted(
                set(t.get("dropped_columns") or []) | set(columns)
            ),
        }
        # deep-copy the maps before stripping: the head manifest dict
        # may be cached upstream
        if out.get("bucket_stats"):
            out["bucket_stats"] = {
                b: {**e, "cols": dict(e.get("cols") or {})}
                for b, e in out["bucket_stats"].items()
            }
        if out.get("added_columns"):
            out["added_columns"] = dict(out["added_columns"])
        _strip_dropped_metadata(out, set(columns))
        return out

    return edit


def alter_versioned_db_drop_columns(
    path: str,
    table: str,
    columns: list[str],
    spark: SparkSession | None = None,
) -> dict:
    """DROP COLUMN for one table of the transactional layout — the db
    twin of :func:`alter_versioned_drop_columns`, identical semantics;
    other tables are untouched and the ALTER is one transaction on
    the shared chain."""
    return _commit_meta_edit(path, _drop_columns_edit(columns), table)


def _renamed_table_entry(t: dict, root: str, old: str, new: str) -> dict:
    """Validate one RENAME COLUMN and build the renamed table entry —
    shared by both layouts. The rename is METADATA-ONLY (Delta's
    column-mapping idea, `delta/protocol` §column mapping): parquet
    files keep the column's ORIGINAL physical name forever; the
    manifest's ``column_map`` records logical→physical, readers
    translate after the scan, rewrites translate back before the
    write. All manifest-level metadata (recorded schema, stats_cols,
    bloom_cols, bucket_stats, added_columns) is rewritten to the new
    logical name in the SAME commit; immutable per-generation
    sidecars stay keyed by physical name and lookups translate.

    Refused: the key column (it pins the bucket layout), the reserved
    bucket column, dropped names on either side (the reader's drop
    projection would swallow the new name; old bytes could resurrect
    under a re-used one), a target that collides with a live logical
    column or with UNCLAIMED physical bytes in retained generations,
    and a source referenced by a CHECK constraint (drop the
    constraint first — its expression text names the old column)."""
    import json as _json

    if old == new:
        raise ValueError(f"{root}: rename {old!r} to itself is a no-op")
    if old == t["pk"] or new == t["pk"]:
        raise ValueError(
            f"{root}: cannot rename the key column {t['pk']!r} "
            "(it pins the bucket layout; re-initialize to re-key)"
        )
    if MERGE_BUCKET_COL in (old, new):
        raise ValueError(
            f"{root}: {MERGE_BUCKET_COL!r} is the reserved bucket column"
        )
    dropped = set(t.get("dropped_columns") or [])
    if old in dropped:
        raise ValueError(f"{root}: column {old!r} is dropped")
    if new in dropped:
        raise ValueError(
            f"{root}: {new!r} was dropped; a full-rewrite re-init is "
            "required to re-use the name"
        )
    logical = _manifest_logical_columns(t)
    if logical is None:
        raise ValueError(
            f"{root}: cannot rename — this manifest predates the "
            "recorded-schema format; re-initialize the table "
            "(write_versioned_table) to record its schema"
        )
    if old not in logical:
        raise ValueError(
            f"{root}: no column {old!r} to rename "
            f"(table has: {sorted(logical)})"
        )
    if new in logical:
        raise ValueError(f"{root}: column {new!r} already exists")
    refs = _constraint_references(t.get("constraints"), old)
    if refs:
        raise ValueError(
            f"{root}: column {old!r} is referenced by CHECK "
            f"constraint(s) {refs}; drop them first"
        )
    # resurrection guard: physical bytes in retained generations that
    # no live logical column claims (shed columns, historic re-inits)
    # must not re-surface under the new name — the read-side rename
    # would produce two columns with one name
    coll = _alter_collision_columns(root, t)
    claimed = set(_column_map(t).values())
    if new in (coll - logical - claimed - {MERGE_BUCKET_COL}):
        raise ValueError(
            f"{root}: {new!r} exists physically in retained "
            "generations; re-initialize to free the name"
        )
    cmap = dict(_column_map(t))
    phys = cmap.pop(old, old)
    if phys != new:
        cmap[new] = phys

    def ren(c: str) -> str:
        return new if c == old else c

    out = {**t}
    if cmap:
        out["column_map"] = cmap
    else:
        out.pop("column_map", None)  # renamed back to the original
    if t.get("columns"):
        out["columns"] = [ren(c) for c in t["columns"]]
    sj = t.get("schema_json")
    if sj:
        d = _json.loads(sj)
        for f in d.get("fields", []):
            if f.get("name") == old:
                f["name"] = new
        out["schema_json"] = _json.dumps(d)
    if t.get("stats_cols"):
        out["stats_cols"] = [ren(c) for c in t["stats_cols"]]
    if t.get("bloom_cols"):
        out["bloom_cols"] = [
            ren(e) if isinstance(e, str) else [ren(c) for c in e]
            for e in t["bloom_cols"]
        ]
    if t.get("added_columns"):
        out["added_columns"] = {
            ren(c): spec for c, spec in t["added_columns"].items()
        }
    if t.get("bucket_stats"):
        out["bucket_stats"] = {
            b: {
                **e,
                "cols": {
                    ren(c): v for c, v in (e.get("cols") or {}).items()
                },
            }
            for b, e in t["bucket_stats"].items()
        }
    return out


def alter_versioned_rename_column(
    path: str, old: str, new: str, spark: SparkSession | None = None
) -> dict:
    """Metadata-only ALTER RENAME COLUMN on a versioned table: one
    chain commit, zero parquet rewrites at ANY table size — the
    Delta-style column-mapping rename (:func:`_renamed_table_entry`
    has the full contract). Pre-rename tokens time-travel with the
    old name; concurrent bucket rewrites racing the rename raise
    :class:`ConcurrentMergeError` on their rebase path."""
    return _commit_meta_edit(
        path, lambda t, root: _renamed_table_entry(t, root, old, new)
    )


def alter_versioned_db_rename_column(
    path: str,
    table: str,
    old: str,
    new: str,
    spark: SparkSession | None = None,
) -> dict:
    """RENAME COLUMN for one table of the transactional layout — the
    db twin of :func:`alter_versioned_rename_column`, identical
    semantics; other tables are untouched and the ALTER is one
    transaction on the shared chain."""
    return _commit_meta_edit(
        path, lambda t, root: _renamed_table_entry(t, root, old, new), table
    )


def _alter_collision_columns(
    root: str,
    meta: dict,
    repair: str = "write_versioned_table",
) -> set[str]:
    """The column set an ALTER must not collide with, shared by both
    layouts: the manifest-recorded init schema plus — when data exists
    — the columns PHYSICALLY present in one parquet footer (read on
    the driver: the recorded schema cannot say what bytes exist),
    resolved against the SAME bucket map as the rest of the
    validation (``meta``), so a
    concurrent re-init cannot swap the head mid-check (callers run
    this INSIDE the claim loop, against the exact head they extend). A
    zero-bucket table whose manifest predates the recorded-schema
    format cannot be verified at all — that errors rather than
    vacuously passing, naming the layout-appropriate ``repair``."""
    physical = set(meta.get("columns", []))
    if meta["buckets"]:
        paths = [
            os.path.join(root, gen, f"{MERGE_BUCKET_COL}={b}")
            for b, gen in sorted(meta["buckets"].items())
        ]
        physical |= _footer_columns(*paths)
    elif "columns" not in meta:
        raise ValueError(
            f"{root}: cannot verify column collisions — this zero-bucket "
            "manifest predates the recorded-schema format; re-initialize "
            f"the table ({repair}) to record its schema"
        )
    return physical


def _parse_added_column_types(columns: dict[str, tuple[str, object]]) -> None:
    from pyspark.sql.types import _parse_datatype_string

    for col, (dtype, _default) in columns.items():
        try:
            _parse_datatype_string(dtype)
        except Exception as e:
            raise ValueError(
                f"invalid Spark type {dtype!r} for added column {col!r}: {e}"
            ) from e


def _merged_added_columns(
    columns: dict[str, tuple[str, object]],
    existing: dict,
    physical: set[str],
    dropped: set[str] | None = None,
) -> dict:
    """Per-attempt ALTER validation shared by both layouts: reject
    redefinitions (old defaults are physically baked into merge-touched
    buckets), the reserved bucket column, collisions with physical
    columns (their genuine NULLs would become the default on every
    read), and DROPPED names (old generations may still carry bytes a
    re-add would resurrect or, once shed, the reader's drop projection
    would swallow the new column — re-init to free a name). Returns
    the merged added-columns map."""
    added = dict(existing)
    for col, (dtype, default) in columns.items():
        if col in added:
            raise ValueError(
                f"column {col!r} is already an added column; "
                "redefinition is not supported"
            )
        if col == MERGE_BUCKET_COL:
            raise ValueError(
                f"column name {col!r} is reserved for the bucket "
                "partition column"
            )
        if col in (dropped or set()):
            raise ValueError(
                f"column {col!r} was dropped; a full-rewrite re-init "
                "is required to re-use the name"
            )
        if col in physical - {MERGE_BUCKET_COL}:
            raise ValueError(
                f"column {col!r} already exists in the table schema"
            )
        added[col] = {"type": dtype, "default": default}
    return added


def alter_versioned_add_columns(
    path: str,
    columns: dict[str, tuple[str, object]],
    spark: SparkSession | None = None,
) -> dict:
    """Schema evolution as a METADATA-ONLY chain commit: add columns
    (``name -> (spark type string, default)``) without touching a
    single parquet file. Readers materialize the columns at scan time
    (:func:`_fill_added_columns`); the next merge that rewrites a
    bucket persists them physically for that bucket, and files from
    before the alter keep coalescing to the default. Pre-alter
    snapshots read by token are untouched — time travel returns the
    old schema.

    Semantics of a non-null default are DEFAULT-ON-READ (Delta's
    missing-column rule): a physical NULL in the added column always
    reads as the default, so an explicit NULL cannot be stored in a
    defaulted added column — pick ``default=None`` for columns that
    need genuine NULLs.

    Validation happens HERE, not at read time — a bad type string or
    a name collision must fail the ALTER, never poison every future
    scan: the type must parse, redefining an existing added column is
    rejected (merge-touched buckets have the old default physically
    baked in — a redefinition would make values depend on historical
    merge traffic), the reserved bucket column is rejected, and
    collisions with the table's physical columns are ALWAYS rejected
    (their existing NULLs would silently become the default on every
    read) — by reading one parquet footer on the driver (pyarrow; no
    Spark job). ``spark`` is accepted for compatibility and unused.

    At 100 TB this is the only sane ALTER: a physical backfill of a
    new column is a full-table rewrite; deferring materialization to
    the buckets the merge traffic touches anyway makes the ALTER O(1)
    and the backfill incremental and free."""
    return _commit_meta_edit(path, _add_columns_edit(columns))


def _add_columns_edit(
    columns: dict[str, tuple[str, object]], repair: str = "write_versioned_table"
):
    _parse_added_column_types(columns)

    def edit(t: dict, root: str) -> dict:
        # rebuilt per claim attempt, the collision set included: a
        # column a concurrent re-init physically materialized — and
        # therefore dropped from added_columns — must not be re-addable
        # as metadata against the stale physical set
        physical = _alter_collision_columns(root, t, repair=repair)
        added = _merged_added_columns(
            columns, t.get("added_columns", {}), physical,
            dropped=set(t.get("dropped_columns") or []),
        )
        return {**t, "added_columns": added}

    return edit


def _diff_snapshot_tables(spark: SparkSession, root: str, tf: dict, tt: dict):
    """Row-level diff core shared by both layouts: ``tf``/``tt`` are
    table-level manifest entries (pk, n_buckets, buckets,
    added_columns?) of the FROM and TO snapshots. Only buckets whose
    generation differs between the two maps are read — on either
    side — so cost tracks CHANGE volume, not table size (the manifest
    diff is the change index; nothing extra is ever stored). Returns
    the union-schema rows plus ``_change_type``:

    - ``insert`` / ``delete``: key present on exactly one side;
    - ``update_preimage`` / ``update_postimage``: key on both sides
      with any column differing (null-safe compare over the union
      schema, absent columns as NULL) — Delta CDF's two-row update
      convention, so a consumer can replay either direction.

    Semantics notes: a metadata-only ALTER produces NO diff rows
    until a rewrite touches a bucket (the default materializes
    lazily) — that matches what the bytes say, and what an engine
    that never rewrote the files can actually know. NULL-key rows are
    UNKEYABLE and excluded from the feed (like every pk-keyed CDC);
    they also never merge, so the exclusion is symmetric with the
    write path. The output carries the derived bucket column, so its
    column SET matches :func:`read_versioned_table`'s (align by
    name — unmaterialized ALTER-added columns can sit at a different
    position than a physical read would put them)."""
    if tf["pk"] != tt["pk"]:
        raise ValueError(
            f"{root}: snapshots have different primary keys "
            f"({tf['pk']!r} vs {tt['pk']!r}; a re-init changed the key) "
            "— rows cannot be matched across them"
        )

    # same-name pk with a re-init-changed TYPE joins on garbage (or
    # throws a cast error deep in ANSI mode) — catch it up front while
    # both recorded schemas are at hand; pre-format manifests skip
    tpf = _recorded_col_type(tf, tf["pk"])
    tpt = _recorded_col_type(tt, tt["pk"])
    if tpf is not None and tpt is not None and tpf != tpt:
        raise ValueError(
            f"{root}: primary key {tt['pk']!r} changed type across the "
            f"snapshots ({tpf.simpleString()!r} vs "
            f"{tpt.simpleString()!r}; a re-init changed it) "
            "— rows cannot be matched across them"
        )
    pk = tt["pk"]
    changed = sorted(
        (
            b
            for b in set(tf["buckets"]) | set(tt["buckets"])
            # a bucket's visible identity is (generation, DV entry,
            # UPDATE overlay entry): merge-on-read deletes and updates
            # change rows without moving the generation, so sidecar
            # movement alone marks it changed
            if tf["buckets"].get(b) != tt["buckets"].get(b)
            or _dv_map(tf).get(b) != _dv_map(tt).get(b)
            or _patch_map(tf).get(b) != _patch_map(tt).get(b)
        ),
        key=int,
    )

    def side(meta, buckets):
        if not any(b in meta["buckets"] for b in buckets):
            return None
        df = _bucket_rows(spark, root, meta, buckets)
        if meta is tf and _column_map(tf) != _column_map(tt):
            # a RENAME landed between the snapshots: express the FROM
            # side in the TO side's logical namespace via the shared
            # (stable) physical names, so a metadata-only rename
            # produces NO diff rows — the bytes did not change
            tt_rev = {p: l for l, p in _column_map(tt).items()}
            def cur(c):
                p = _column_map(tf).get(c, c)
                return tt_rev.get(p, p)
            df = df.select(*[df[c].alias(cur(c)) for c in df.columns])
        return df

    df_f = side(tf, changed)
    df_t = side(tt, changed)
    # union schema for the output; absent columns read as NULL on the
    # side that lacks them (typed from the side that has them)
    schema_src = df_t if df_t is not None else df_f
    if schema_src is None:
        # no changed buckets: an empty diff — typed cheaply, never by
        # scanning the whole table (ONE bucket if any exists, else the
        # recorded init schema for zero-bucket snapshots). An empty
        # `changed` forces IDENTICAL bucket maps, and commits carry
        # every manifest field forward, so tt alone decides both paths
        # (tf is never newer: the callers enforce seq order).
        any_side = side(tt, sorted(tt["buckets"])[:1])
        if any_side is None:
            any_side = _empty_versioned_frame(spark, root, tt).drop(
                MERGE_BUCKET_COL
            )
        return (
            any_side.limit(0)
            .withColumn(MERGE_BUCKET_COL, _bucket_expr(pk, tt["n_buckets"]))
            .withColumn("_change_type", F.lit(""))
        )
    cols = list(
        dict.fromkeys(
            (df_f.columns if df_f is not None else [])
            + (df_t.columns if df_t is not None else [])
        )
    )
    types = {}
    for d in (df_f, df_t):
        if d is not None:
            for fld in d.schema.fields:
                types.setdefault(fld.name, fld.dataType)

    def aligned(df, prefix):
        sel = [
            (
                F.col(c) if df is not None and c in df.columns
                else F.lit(None).cast(types[c])
            ).alias(f"{prefix}{c}")
            for c in cols
        ]
        base = df if df is not None else schema_src.limit(0)
        return base.select(*sel)

    f = aligned(df_f, "__f_")
    t = aligned(df_t, "__t_")
    j = f.join(t, f[f"__f_{pk}"] == t[f"__t_{pk}"], "full_outer")
    in_f = F.col(f"__f_{pk}").isNotNull()
    in_t = F.col(f"__t_{pk}").isNotNull()
    differs = None
    for c in cols:
        d = ~F.col(f"__f_{c}").eqNullSafe(F.col(f"__t_{c}"))
        differs = d if differs is None else (differs | d)
    # ONE pass over ONE join: each matched row explodes into its
    # change rows (0 for unchanged, 2 for updates), then every output
    # column picks the pre- or post-image side by change type — the
    # four-way union would re-evaluate the join per branch
    changes = (
        F.when(in_t & ~in_f, F.array(F.lit("insert")))
        .when(in_f & ~in_t, F.array(F.lit("delete")))
        .when(
            in_f & in_t & differs,
            F.array(F.lit("update_preimage"), F.lit("update_postimage")),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    post_side = F.col("_change_type").isin("insert", "update_postimage")
    return (
        j.withColumn("_change_type", F.explode(changes))
        .select(
            *[
                F.when(post_side, F.col(f"__t_{c}"))
                .otherwise(F.col(f"__f_{c}"))
                .alias(c)
                for c in cols
            ],
            "_change_type",
        )
        .withColumn(MERGE_BUCKET_COL, _bucket_expr(pk, tt["n_buckets"]))
        .select(*cols, MERGE_BUCKET_COL, "_change_type")
    )


def diff_versioned(
    spark: SparkSession,
    path: str,
    from_token: str,
    to_token: str | None = None,
) -> DataFrame:
    """Change data feed for the versioned table, computed FROM the
    layout instead of stored: row-level changes between two retained
    snapshots (``to_token`` default = head). The manifest diff names
    exactly which buckets changed, so only those are read on either
    side — at 100 TB a CDC pass over a merge that touched 3 of 4096
    buckets reads 3 buckets twice, nothing more. See
    :func:`_diff_snapshot_tables` for the output contract."""
    return _diff_table(
        spark, path, "",
        _bucket_manifest(path, from_token), _bucket_manifest(path, to_token),
    )


def diff_versioned_db(
    spark: SparkSession,
    path: str,
    table: str,
    from_token: str,
    to_token: str | None = None,
) -> DataFrame:
    """The db twin of :func:`diff_versioned`: changes to ONE table
    between two TRANSACTIONS — because both sides come from db-level
    manifests, diffing several tables with the same token pair yields
    a cross-table-consistent change set."""
    return _diff_table(
        spark, path, table,
        _db_manifest(path, from_token), _db_manifest(path, to_token),
    )


def _diff_table(
    spark: SparkSession, path: str, table: str, mf: dict, mt: dict
) -> DataFrame:
    """The diff of both layouts: ``table``'s changes from snapshot
    ``mf`` to snapshot ``mt`` (``""`` for a single table)."""
    if int(mf.get("seq", 0)) > int(mt.get("seq", 0)):
        raise ValueError(
            f"{path}: from-snapshot seq {mf.get('seq')} is newer than "
            f"to-snapshot seq {mt.get('seq')} — swap the tokens"
        )
    _require_tables(path, mf, [table])
    _require_tables(path, mt, [table])
    return _diff_snapshot_tables(
        spark, _table_root(path, table), _layout_tables(mf)[table],
        _layout_tables(mt)[table],
    )


def _leaf_files(leaf: str) -> list[str]:
    """The data files of one bucket directory (or any parquet
    directory), sorted: Spark's hidden and metadata files excluded."""
    return [
        os.path.join(leaf, f)
        for f in sorted(os.listdir(leaf))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def _export_bucket_files(
    src_root: str, buckets: dict[str, str], out: str
) -> list[str]:
    """Hard-link every data file of a bucket map into ``out`` (flat,
    bucket-prefixed names). Zero-copy and vacuum-safe: the linked
    inode survives deletion of the source generation directory, so an
    export taken before a vacuum stays readable. Same-device only —
    on an object store the link maps to a server-side copy."""
    exported: list[str] = []
    for b, gen in sorted(buckets.items(), key=lambda kv: int(kv[0])):
        bdir = os.path.join(src_root, gen, f"{MERGE_BUCKET_COL}={b}")
        for f in _leaf_files(bdir):
            name = f"b{int(b):05d}-{os.path.basename(f)}"
            os.link(f, os.path.join(out, name))
            exported.append(name)
    return exported


def _needs_materialize(meta: dict) -> bool:
    """A table whose raw files are NOT the logical table: metadata-only
    schema evolution (ADD, DROP, RENAME's column mapping) or
    merge-on-read deletes. A zero-bucket table has no rows to
    materialize."""
    return bool(meta["buckets"]) and any(
        meta.get(k)
        for k in ("added_columns", "dropped_columns", "column_map", "dv")
    )


def _export_table_entry(src_root: str, meta: dict, out_dir: str, materialize) -> dict:
    """One table's export: zero-bucket tables export as ``"empty"``;
    tables that need it materialize via ``materialize()`` (the caller
    validates the session up front, so this is never reached without
    one); everything else hard-links zero-copy."""
    if not meta["buckets"]:
        return {"mode": "empty", "files": []}
    if _needs_materialize(meta):
        materialize().write.mode("append").parquet(out_dir)
        files = [os.path.basename(f) for f in _leaf_files(out_dir)]
        return {"mode": "materialized", "files": files}
    return {
        "mode": "linked",
        "files": _export_bucket_files(src_root, meta["buckets"], out_dir),
    }


def export_snapshot(
    path: str,
    out: str,
    spark: SparkSession | None = None,
    token: str | None = None,
) -> dict:
    """Publish a versioned table snapshot (head, or any retained
    generation by ``token``) as a PLAIN parquet directory any engine
    can read — DuckDB ``read_parquet('<out>/*.parquet')``, pyarrow,
    another Spark — with no dependency on this library. This closes
    the no-Delta-jar gap for CONSUMERS: engine-written versioned
    tables become externally readable without the manifest protocol.

    Zero-copy by default (:func:`_export_bucket_files`): data files
    hard-link into ``out``, so the export is O(files) metadata work
    regardless of table size, and a later vacuum of the source cannot
    invalidate it. Tables with metadata-only ALTER columns are
    MATERIALIZED instead (``spark`` required): those columns exist
    only in the manifest, so a raw file export would silently lose
    them — the materialized write bakes the defaults in. The snapshot
    provenance (source path, token, seq, mode, files) lands in
    ``<out>/_EXPORT.json``; the bucket partition column is NOT
    exported (it is a pure pk-hash derivation, internal to the merge
    layout)."""
    return _export_tables(path, out, None, spark, _bucket_manifest(path, token))


def export_db_snapshot(
    path: str,
    out: str,
    tables: list[str] | None = None,
    spark: SparkSession | None = None,
    token: str | None = None,
) -> dict:
    """The db twin of :func:`export_snapshot`: every requested table
    of ONE transaction exports under ``<out>/<table>/`` — because all
    tables come from the same manifest, the export is a cross-table-
    consistent snapshot, which per-table exports taken at different
    times cannot guarantee."""
    return _export_tables(path, out, tables, spark, _db_manifest(path, token))


def _export_tables(
    path: str,
    out: str,
    names: list[str] | None,
    spark: SparkSession | None,
    manifest: dict,
) -> dict:
    """The export of both layouts: each of ``names`` (default: every
    table) exports under ``<out>/<table>/`` — ``out`` itself for a
    single table, whose record carries its entry at the top level."""
    import json

    tables = _layout_tables(manifest)
    # dedup while preserving the caller's order — a duplicate name
    # would otherwise fail mid-loop on the second makedirs
    names = sorted(tables) if names is None else list(dict.fromkeys(names))
    # validate the WHOLE export before creating any output: a refused
    # export must leave nothing behind (a partial dir would block the
    # retry on makedirs(exist_ok=False))
    _require_tables(path, manifest, names)
    for name in names:
        t = tables[name]
        if _needs_materialize(t) and spark is None:
            raise ValueError(
                f"{_table_root(path, name)}: table has metadata-only "
                "ALTER columns or deletion vectors "
                f"(added: {sorted(t.get('added_columns') or {})}, "
                f"dropped: {sorted(t.get('dropped_columns') or [])}, "
                f"renamed: {sorted(t.get('column_map') or {})}, "
                f"dv buckets: {sorted(t.get('dv') or {})}); "
                "pass spark= so the export can materialize the logical "
                "table (a raw file export would mis-represent it)"
            )
    os.makedirs(out, exist_ok=False)
    entries: dict[str, dict] = {}
    for name in names:
        tdir = _table_root(out, name)
        os.makedirs(tdir, exist_ok=True)
        src = _table_root(path, name)
        entries[name] = _export_table_entry(
            src, tables[name], tdir,
            lambda src=src, t=tables[name]: _read_entry(spark, src, t).drop(
                MERGE_BUCKET_COL
            ),
        )
    record = {
        "source": os.path.abspath(path),
        "kind": manifest.get("kind"),
        "token": manifest["token"],
        "seq": manifest.get("seq"),
    }
    if manifest.get("kind") == "versioned-db":
        record["tables"] = entries
    else:
        record.update(entries[""])
    with open(os.path.join(out, "_EXPORT.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    return record


# Spark scalar type string -> DuckDB type, for rendering ALTER-added
# column defaults and typed-empty reads in external SQL. Complex types
# (array/struct/map) are deliberately absent: a default for those
# cannot be literalized portably — export_snapshot is the path there.
_DUCKDB_TYPES = {
    "string": "VARCHAR",
    "boolean": "BOOLEAN",
    "byte": "TINYINT",
    "tinyint": "TINYINT",
    "short": "SMALLINT",
    "smallint": "SMALLINT",
    "int": "INTEGER",
    "integer": "INTEGER",
    "long": "BIGINT",
    "bigint": "BIGINT",
    "float": "FLOAT",
    "real": "FLOAT",
    "double": "DOUBLE",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "binary": "BLOB",
}


def _duckdb_type(spark_type: str) -> str:
    t = spark_type.strip().lower()
    if t in _DUCKDB_TYPES:
        return _DUCKDB_TYPES[t]
    if t.startswith("decimal"):
        return t.upper()  # DECIMAL(p,s) spells the same in both
    raise ValueError(
        f"cannot map Spark type {spark_type!r} to a DuckDB type for a "
        "live external scan; use export_snapshot for this table"
    )


def _sql_literal(v) -> str:
    """Render an ALTER-default value (JSON-round-tripped: str, bool,
    int, float, or None) as a SQL literal. Callers always wrap the
    result in a CAST to the column's type, so non-finite floats
    (which json.dump happily round-trips) render as their quoted
    special names — a bare ``nan`` would bind as a column name."""
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, float) and not math.isfinite(v):
        return "'NaN'" if math.isnan(v) else (
            "'Infinity'" if v > 0 else "'-Infinity'"
        )
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    raise ValueError(
        f"cannot render default {v!r} as a SQL literal; "
        "use export_snapshot for this table"
    )


def _sql_ident(name: str) -> str:
    """Double-quote a column name for DuckDB — unquoted identifiers
    break on keywords (``order``) and special characters."""
    return '"' + name.replace('"', '""') + '"'


def _prune_where_sql(prune: list[tuple]) -> str:
    """Render the residual WHERE for a pruned external scan (DuckDB
    dialect, AND-joined range conjuncts with the IS NOT NULL each
    implies). Bounds must be int/float/str/bool — the types
    :func:`_sql_literal` can spell exactly."""
    parts = []
    for col, lo, hi in prune:
        ident = _sql_ident(col)
        parts.append(f"{ident} IS NOT NULL")
        if lo is not None:
            parts.append(f"{ident} >= {_sql_literal(lo)}")
        if hi is not None:
            parts.append(f"{ident} <= {_sql_literal(hi)}")
    return " AND ".join(parts)


def _eq_where_sql(eq: list[tuple]) -> str:
    """Render eq conjuncts for an external scan. Emission is
    restricted to SAME-TYPE-FAMILY literals (checked by the caller):
    cross-family promotion rules differ between engines (DuckDB
    errors casting non-numeric varchars; Spark yields NULL), so only
    the family-safe cases are allowed to leave the engine."""
    parts = []
    for col, value in eq:
        ident = _sql_ident(col)
        if value is None:
            parts.append(f"{ident} IS NULL")
        else:
            parts.append(f"{ident} = {_sql_literal(value)}")
    return " AND ".join(parts)


def _table_manifest_sql(
    root: str,
    manifest: dict,
    prune: list[tuple] | None = None,
    eq: list[tuple] | None = None,
    eq_keep: set[str] | None = None,
) -> str:
    """The per-table body of :func:`manifest_to_sql`: one SELECT over
    exactly this manifest's parquet files, with ALTER-added columns
    reconstructed the way :func:`_fill_added_columns` does it. With
    ``prune``/``eq``, skipped buckets drop out of the emitted file
    list (the external engine never even opens them) and the residual
    WHERE rides inside the query (``eq_keep`` is the bloom-surviving
    bucket set the caller computed — bloom hashing needs a live Spark
    session, which this renderer deliberately does not). Tables with
    ``file_stats`` additionally shrink the emitted list to the FILES
    whose sidecar stats can match — the external engine gets the fine
    tier too."""
    import json as _json

    keep = set(manifest["buckets"])
    if prune:
        keep &= set(stats_prune_buckets(manifest, prune))
    if eq_keep is not None:
        keep &= eq_keep
    # UPDATE-overlaid buckets are exempt from stats/bloom pruning
    # (base stats and blooms describe superseded values) — same rule
    # as the native reader's _skipping_keep
    keep |= set(_patch_map(manifest)) & set(manifest["buckets"])
    # bucket dirs, or single files where the file tier applies; empty
    # when it refuted every file of every surviving bucket
    scan_paths = _pruned_bucket_paths(root, manifest, keep, prune, eq)

    added = manifest.get("added_columns", {})
    dropped = set(manifest.get("dropped_columns") or [])
    schema_cols: list[str] = []
    sj = manifest.get("schema_json")
    if sj is not None:
        schema_cols = [f["name"] for f in _json.loads(sj)["fields"]]
    elif manifest.get("columns"):
        schema_cols = list(manifest["columns"])
    schema_cols = [
        c for c in schema_cols if c != MERGE_BUCKET_COL and c not in dropped
    ]

    if not scan_paths:
        # typed-empty read (same contract as read_versioned_table's
        # empty branch): a zero-bucket snapshot, or every bucket skipped
        if sj is None:
            raise FileNotFoundError(f"{root}: empty versioned table")
        types = {
            f["name"]: f["type"] for f in _json.loads(sj)["fields"]
        }
        exprs = [
            f"CAST(NULL AS {_duckdb_type(str(types[c]))}) AS {_sql_ident(c)}"
            for c in schema_cols
        ] + [
            f"CAST({_sql_literal(spec.get('default'))} AS "
            f"{_duckdb_type(spec['type'])}) AS {_sql_ident(col)}"
            for col, spec in added.items()
        ]
        return f"SELECT {', '.join(exprs)} WHERE 1 = 0"

    files: list[str] = []
    gen_leaf: dict[str, str] = {}
    scanned: set[str] = set()  # bucket ids in the emitted scan set
    for p in scan_paths:
        if p.endswith(".parquet"):
            leaf = os.path.dirname(p)
            files.append(p)
        else:
            leaf = p
            files.extend(_leaf_files(leaf))
        gen_leaf.setdefault(os.path.basename(os.path.dirname(leaf)), leaf)
        scanned.add(os.path.basename(leaf).rsplit("=", 1)[1])
    # the physical union across generations: one footer per generation
    # is representative (a generation is one write, one frame schema) —
    # this also catches columns a re-init materialized physically after
    # dropping them from added_columns, which the recorded init schema
    # does not know about
    physical: set[str] = set()
    for leaf in gen_leaf.values():
        physical |= _footer_columns(leaf)
    physical -= {MERGE_BUCKET_COL}
    # files carry PHYSICAL names (column mapping): project each
    # logical column from its physical twin, aliased back — the
    # external engine sees the same post-RENAME names as the native
    # reader. Dropped columns subtract by their physical name.
    cmap = manifest.get("column_map") or {}
    physical -= {cmap.get(d, d) for d in dropped}

    def _proj(c: str) -> str:
        p = cmap.get(c, c)
        return (
            f"{_sql_ident(p)} AS {_sql_ident(c)}"
            if p != c
            else _sql_ident(c)
        )

    base = [c for c in schema_cols if cmap.get(c, c) in physical]
    extras = sorted(
        physical
        - {cmap.get(c, c) for c in schema_cols}
        - {cmap.get(a, a) for a in added}
    )
    exprs = [_proj(c) for c in base] + [_sql_ident(c) for c in extras]
    for col, spec in added.items():
        default = spec.get("default")
        p = cmap.get(col, col)
        if p in physical:
            if default is None:
                exprs.append(_proj(col))
            else:
                # default-on-read: physical NULLs (pre-alter files via
                # union_by_name, or stored NULLs) read as the default
                exprs.append(
                    f"coalesce({_sql_ident(p)}, "
                    f"CAST({_sql_literal(default)} AS "
                    f"{_duckdb_type(spec['type'])})) AS {_sql_ident(col)}"
                )
        else:
            exprs.append(
                f"CAST({_sql_literal(default)} AS "
                f"{_duckdb_type(spec['type'])}) AS {_sql_ident(col)}"
            )

    def sidecar_list(sidecars: dict) -> str:
        # the files of the DV or overlay generations of the scanned
        # buckets, as a SQL list
        return ", ".join(
            _sql_literal(f)
            for b, gen in sorted(sidecars.items())
            if b in scanned
            for f in _leaf_files(
                os.path.join(root, gen, f"{MERGE_BUCKET_COL}={b}")
            )
        )

    file_list = ", ".join(map(_sql_literal, files))
    # merge-on-read deletes: the external engine anti-joins the same
    # DV sidecars the native reader does (pk is never renamed, so no
    # column-mapping translation applies here)
    dv_clause = ""
    dv_list = sidecar_list(manifest.get("dv") or {})
    if dv_list:
        # NOT EXISTS, not NOT IN: NOT IN over a non-empty subquery is
        # NULL (filtered) for NULL-pk rows, but the native reader's
        # left_anti join KEEPS NULL-pk rows — NOT EXISTS with an
        # equality correlate matches left_anti exactly.
        dv_clause = (
            f" WHERE NOT EXISTS (SELECT 1 FROM "
            f"read_parquet([{dv_list}], hive_partitioning=false) __dv "
            f"WHERE __dv.{_sql_ident(DV_PK_COL)} = "
            f"{_sql_ident(manifest['pk'])})"
        )
    # hive_partitioning=false: the bucket dir key is merge-layout
    # plumbing, not data (export_snapshot drops it too); union_by_name
    # reconciles pre-/post-ALTER generation schemas
    sql = (
        f"SELECT {', '.join(exprs)} FROM read_parquet([{file_list}], "
        f"union_by_name=true, hive_partitioning=false){dv_clause}"
    )
    # merge-on-read UPDATE overlays: the DV above killed the
    # superseded base versions; the overlay files carry the current
    # ones — union them with the SAME projection, no DV clause
    # (read contract: (base \ DV) ∪ patch, _apply_dv's twin)
    patch_list = sidecar_list(manifest.get("patch") or {})
    if patch_list:
        sql = (
            f"{sql} UNION ALL SELECT {', '.join(exprs)} FROM "
            f"read_parquet([{patch_list}], union_by_name=true, "
            f"hive_partitioning=false)"
        )
    if not (prune or eq):
        return sql
    # the residual must filter the PROJECTED columns (ALTER-added
    # columns are reconstructed as coalesce-to-default aliases) —
    # appended directly to the inner SELECT, DuckDB would bind the raw
    # read_parquet column and drop every row whose value IS the default
    conds = [_prune_where_sql(prune)] if prune else []
    if eq:
        conds.append(_eq_where_sql(eq))
    return f"SELECT * FROM ({sql}) WHERE {' AND '.join(conds)}"


def manifest_to_sql(
    path: str,
    token: str | None = None,
    prune: list[tuple] | None = None,
    eq: list[tuple] | None = None,
    spark: SparkSession | None = None,
) -> str:
    """LIVE external-engine scan of a versioned table — no export, no
    copy: emit one SQL query (DuckDB dialect) that reads exactly the
    head (or ``token``-pinned) snapshot's parquet files straight out
    of the commit chain. Callers re-resolve per query, so a DuckDB
    paired with Spark writers always sees the latest committed
    snapshot (head resolution is O(1 + lag) via the HEAD hint) — the
    gap export_snapshot leaves, where an external reader sees data
    only as of the last export.

    Consistency: the emitted file list is immutable — committed
    generations are never rewritten, and vacuum honors retention — so
    the query is a stable point-in-time snapshot no matter how many
    merges land after it was emitted (re-emit to follow the head).
    ALTER-added columns are reconstructed with the engine's own
    default-on-read rule; the bucket partition column is internal and
    not exposed. Complex-typed added columns cannot be literalized in
    SQL and raise — :func:`export_snapshot` covers those.

    ``prune`` takes the same ``(col, lo, hi)`` conjuncts as
    :func:`read_versioned_table` — the manifest's bucket stats shrink
    the emitted file list, so the EXTERNAL engine gets the same data
    skipping the native reader has (bounds limited to
    int/float/str/bool literals).

    ``eq`` gives the external scan the Bloom skipping too — it needs
    a live ``spark`` session (lookup literals hash through the same
    typed expressions as the build), and is restricted to
    SAME-TYPE-FAMILY literals: cross-family promotion semantics
    differ between engines (DuckDB errors casting non-numeric
    varchars where Spark yields NULL), so those raise instead of
    silently diverging."""
    return _tables_to_sql(
        path, _bucket_manifest(path, token), None,
        None if prune is None else {"": prune},
        None if eq is None else {"": eq}, spark,
    )[""]


def _external_eq_keep(
    spark: SparkSession | None,
    root: str,
    entry: dict,
    eq: list[tuple] | None,
) -> set[str] | None:
    """Bloom-surviving bucket set for an external eq emission, with
    ALL the validation the renderer cannot do itself, done UPFRONT
    (before any Spark work): the column must exist (recorded schema
    or an ALTER-added column — the renderer projects those as
    coalesce aliases, so the residual binds them exactly), the
    literal must be in the column's type family (cross-engine
    promotion semantics diverge), and the literal must be a type
    :func:`_sql_literal` can render exactly — finite int/float, str,
    bool, or None (dates/timestamps/decimals are family-sound
    NATIVELY but have no engine-neutral SQL rendering here; NaN/Inf
    would emit as quoted strings an integer column cannot bind)."""
    if not eq:
        return None
    import math

    added = entry.get("added_columns") or {}
    for col, value in eq:
        dt = _recorded_col_type(entry, col)
        if dt is None and col in added:
            from pyspark.sql.types import _parse_datatype_string

            dt = _parse_datatype_string(added[col]["type"])
        if dt is None:
            raise ValueError(
                f"external eq on {col!r}: unknown column (not in the "
                "recorded schema or ALTER-added columns)"
            )
        if value is None:
            continue  # IS NULL: renders for any existing column
        if not isinstance(value, (bool, int, float, str)) or (
            isinstance(value, float) and not math.isfinite(value)
        ):
            raise ValueError(
                f"external eq on {col!r}: literal {value!r} has no "
                "engine-neutral SQL rendering (finite int/float, str, "
                "bool only) — filter in the consuming engine instead"
            )
        if not _eq_bloom_sound(dt, value):
            raise ValueError(
                f"external eq on {col!r}: literal {value!r} is not in "
                "the column's type family — cross-engine promotion "
                "semantics diverge; filter in the consuming engine "
                "instead"
            )
    if spark is None:
        # no session: emission stays correct through the residual,
        # just without the bucket shrink
        return set(entry["buckets"])
    return _skipping_keep(spark, root, entry, None, None, eq)


def db_manifest_to_sql(
    path: str,
    tables: list[str] | None = None,
    token: str | None = None,
    prune: dict[str, list[tuple]] | None = None,
    eq: dict[str, list[tuple]] | None = None,
    spark: SparkSession | None = None,
) -> dict[str, str]:
    """The db twin of :func:`manifest_to_sql`: one SQL query per
    requested table, all resolved from ONE transaction manifest — a
    cross-table-consistent live view (per-table emissions taken at
    different times cannot guarantee that). ``prune`` maps table name
    to that table's ``(col, lo, hi)`` conjuncts — stats-disjoint
    buckets drop out of the emitted file list and the residual WHERE
    wraps the projection, exactly like the single-table emission."""
    return _tables_to_sql(
        path, _db_manifest(path, token), tables, prune, eq, spark
    )


def _tables_to_sql(
    path: str,
    manifest: dict,
    names: list[str] | None,
    prune: dict[str, list[tuple]] | None,
    eq: dict[str, list[tuple]] | None,
    spark: SparkSession | None,
) -> dict[str, str]:
    """The external-SQL emission of both layouts: one query per table
    of ``names`` (default: every table; ``""`` for a single table),
    all from the one ``manifest``."""
    tables = _layout_tables(manifest)
    names = sorted(tables) if names is None else list(dict.fromkeys(names))
    _require_tables(path, manifest, names)
    unknown = (set(prune or {}) | set(eq or {})) - set(names)
    if unknown:
        # a typo'd prune key must fail loudly — silently emitting
        # UNfiltered SQL while the caller believes the predicate was
        # applied is a semantics change, not an optimization
        raise ValueError(
            f"{path}: prune/eq keys {sorted(unknown)} match no emitted "
            f"table (emitting: {names})"
        )
    out = {}
    for name in names:
        root, t = _table_root(path, name), tables[name]
        t_eq = (eq or {}).get(name)
        out[name] = _table_manifest_sql(
            root, t, prune=(prune or {}).get(name), eq=t_eq,
            eq_keep=_external_eq_keep(spark, root, t, t_eq),
        )
    return out


def merge_into_versioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    pk: str,
    set_cols: list[str],
    base_token: str | None = None,
    extra_meta: dict | None = None,
    not_matched: str = "ignore",
) -> dict:
    """Atomic MERGE: affected buckets are rewritten under a NEW
    generation directory; untouched buckets keep their existing files
    byte-for-byte (the new manifest still points at them); claiming
    the next CAS commit is THE commit. Returns the new manifest (its
    ``buckets`` map shows exactly what moved).

    ``not_matched`` picks the WHEN NOT MATCHED clause: ``"ignore"``
    (default — update-only, keys absent from the target are dropped)
    or ``"insert"`` (true upsert — unmatched keys become new rows
    carrying pk + set_cols, NULL elsewhere, landing in their pk-hash
    buckets; buckets not yet in the manifest are created). Insert
    keys outside every existing bucket still commit atomically on the
    same chain.

    ``pk`` must be the table's key (the manifest's): buckets are the
    key's hash, so merging on any other column would rewrite the
    wrong buckets — a mismatch raises ``ValueError``.

    Concurrency: the merge reads its snapshot (``base_token`` pins an
    explicit one — the optimistic-concurrency hook; default = current
    head), rewrites only its affected buckets, then claims the next
    commit seq. If other merges committed in between: disjoint buckets
    rebase and retry the claim (both merges land, history stays
    linear); overlapping buckets raise :class:`ConcurrentMergeError`
    (this merge's rewritten files came from stale inputs — re-run it
    against the new head).

    ``extra_meta`` rides on the committed manifest (merged into any
    existing values of the same keys, surviving rebases) — the hook
    the streaming sink uses to pin per-stream progress (exactly-once)
    into the same atomic commit as the data."""
    _check_not_matched(not_matched)
    manifest = _bucket_manifest(path, base_token)
    if pk != manifest["pk"]:
        raise ValueError(
            f"{path}: merge key {pk!r} is not the table key "
            f"({manifest['pk']!r})"
        )
    token = _new_token()
    res = _merge_table_body(
        spark, path, manifest, updates, set_cols, not_matched, f"gen-{token}"
    )
    return _commit_dml(
        spark, path, manifest, {"": res}, token, extra_meta, adds_rows=True
    )


def _check_not_matched(not_matched: str) -> None:
    if not_matched not in ("ignore", "insert"):
        raise ValueError(
            f"not_matched must be 'ignore' or 'insert', got {not_matched!r}"
        )


def _merge_table_body(
    spark: SparkSession,
    root: str,
    t: dict,
    updates: DataFrame,
    set_cols: list[str],
    not_matched: str,
    gen: str,
) -> _TableWrite | None:
    """Per-table MERGE body shared by both layouts: rewrites the
    buckets the update keys hash to (only existing ones unless
    ``not_matched="insert"``) through the copy-on-write writer, keyed
    on the manifest's own pk, or returns ``None`` when no bucket is
    affected."""
    pk, nb = t["pk"], t["n_buckets"]
    upd = updates.withColumn(MERGE_BUCKET_COL, _bucket_expr(pk, nb))
    upd_buckets = _nonnull_update_buckets(upd, pk)
    affected = (
        upd_buckets
        if not_matched == "insert"
        else [b for b in upd_buckets if str(b) in t["buckets"]]
    )
    if not affected:
        return None
    table = _merge_target_frame(spark, root, t, affected, upd, pk, set_cols)
    merged = _apply_matched_updates(table, upd, pk, set_cols)
    if not_matched == "insert":
        merged = merged.unionByName(_unmatched_inserts(table, upd, pk, set_cols))
    return _copy_on_write(merged, root, t, affected, gen)


def _copy_on_write(
    rows: DataFrame, root: str, t: dict, affected: list[int], gen: str
) -> _TableWrite:
    """THE copy-on-write writer of the row-level verbs (MERGE, DELETE,
    UPDATE, CDC-apply): ``rows`` is the new state of the ``affected``
    buckets — callers read exactly those (:func:`_bucket_rows`), so a
    candidate bucket without a match is not identity-rewritten. Each
    bucket's rows go to ONE task, as in OPTIMIZE, so the files a
    bucket gets are a function of the input, not of the scan's split
    count or the session's cores. Returns each bucket mapped to
    ``gen``, or to ``None`` when it was emptied: a delete can empty a
    bucket, and so can a DV that emptied it logically before a MERGE
    touched it — no partition directory is written then, and a
    dangling pointer would make every later read PATH_NOT_FOUND (the
    commit drops ``None``)."""
    out = rows.withColumn(
        MERGE_BUCKET_COL, _bucket_expr(t["pk"], t["n_buckets"])
    ).repartition(len(affected), F.col(MERGE_BUCKET_COL))
    written = _write_generation(out, root, gen, t)
    present = set(_present_buckets(os.path.join(root, gen)))
    return _TableWrite(
        {str(b): (gen if b in present else None) for b in affected}, written
    )


def _merge_on_read(
    spark: SparkSession,
    root: str,
    t: dict,
    dead: DataFrame,
    new: DataFrame | None,
    affected: list[int],
    gen: str,
) -> _TableWrite:
    """THE merge-on-read writer (DV DELETE, DV UPDATE): ``dead`` holds
    the pks whose current versions die in the ``affected`` buckets,
    ``new`` the row versions that replace them (``None`` for a
    delete). No data file is written. Per affected bucket:

    - the DV sidecar becomes the prior DV ∪ ``dead``, under a fresh
      generation;
    - the UPDATE overlay becomes (prior overlay \\ ``dead``) ∪ ``new``
      under ``<root>/<gen>``, the generation
      :func:`_enforce_constraints` checks, and is dropped when empty.

    Each is one file per bucket whatever the session's split and
    shuffle widths, so reads never chain sidecars. At 100 TB a 10-key
    erasure or a 100-row reprice costs KB-scale sidecars where the
    copy-on-write writer rewrites whole buckets; OPTIMIZE materializes
    both later. Overlay rows are rows updated since the bucket's last
    rewrite, carried forward into its one file."""
    pk, nb = t["pk"], t["n_buckets"]
    mb = F.col(MERGE_BUCKET_COL)
    dv = dead.select(F.col(pk).alias(DV_PK_COL))
    old = _bucket_dirs(root, _dv_map(t), affected)
    if old:
        dv = dv.unionByName(_read_dv(spark, t, *old))
    dv_gen = f"gen-{_new_token()}"
    (
        # the distinct reuses the bucket partitioning: one shuffle
        dv.withColumn(MERGE_BUCKET_COL, _bucket_expr(DV_PK_COL, nb))
        .repartition(len(affected), mb)
        .distinct()
        .write.mode("errorifexists")
        .partitionBy(MERGE_BUCKET_COL)
        .parquet(os.path.join(root, dv_gen))
    )
    dvs = {str(b): dv_gen for b in affected}
    patch = _patch_map(t)
    old = _bucket_dirs(root, patch, affected)
    rows = new
    if old:
        carry = _fill_added_columns(
            _read_logical(spark, t, *old), t
        ).join(dead, pk, "left_anti")
        rows = (
            carry if rows is None
            else rows.unionByName(carry.select(*rows.columns))
        )
    if rows is None:
        return _TableWrite({}, None, dv=dvs)
    out = rows.withColumn(MERGE_BUCKET_COL, _bucket_expr(pk, nb)).repartition(
        len(affected), mb
    )
    written = _write_generation(out, root, gen, t)
    present = set(_present_buckets(os.path.join(root, gen)))
    return _TableWrite(
        {}, written, dv=dvs,
        patch={
            str(b): (gen if b in present else None)
            for b in affected
            if b in present or str(b) in patch
        },
    )


def _check_mode(mode: str) -> None:
    if mode not in ("rewrite", "dv"):
        raise ValueError(f"mode must be 'rewrite' or 'dv', got {mode!r}")


def _match_buckets(df: DataFrame, pk: str, n_buckets: int) -> list[int]:
    """The sorted buckets holding a row of ``df``, observed on one
    scan that writes nothing: no shuffle, nothing materialized, and
    the set is bounded by ``n_buckets``."""
    from pyspark.sql import Observation

    obs = Observation()
    df.observe(
        obs, F.collect_set(_bucket_expr(pk, n_buckets)).alias("b")
    ).write.format("noop").mode("overwrite").save()
    return sorted(obs.get["b"])


def delete_from_versioned(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    pk: str,
    base_token: str | None = None,
    extra_meta: dict | None = None,
    mode: str = "rewrite",
) -> dict:
    """Atomic DELETE by key frame (the GDPR-erasure shape the
    reference's delete-capable sinks imply, re-expressed on the
    versioned layout), with TWO physical strategies:

    - ``mode="rewrite"`` (default, copy-on-write): only buckets
      CONTAINING a key to delete are rewritten (anti-join) under a
      new generation; every other bucket stays byte-identical. A
      bucket emptied by the delete is DROPPED from the manifest.
    - ``mode="dv"`` (merge-on-read, the Delta/Iceberg deletion-vector
      idea): NO data file is written — one small parquet of deleted
      pks per affected bucket lands as a sidecar generation and the
      manifest's ``dv`` map points readers at it; every read
      anti-joins, every later rewrite of the bucket MATERIALIZES the
      delete and sheds the entry (OPTIMIZE always picks DV'd
      buckets). Same visible semantics, different write
      amplification: at 100 TB a 10-key rewrite-delete rewrites ≤10
      full buckets, a DV-delete writes a few KB.

    NULL keys and keys outside the table are no-ops either way (SQL
    DELETE's equality never matches NULL). Concurrency and
    ``extra_meta`` follow the MERGE rules (same CAS commit loop; DV
    and rewrite commits on the same bucket conflict symmetrically)."""
    _check_mode(mode)
    manifest = _bucket_manifest(path, base_token)
    if pk != manifest["pk"]:
        raise ValueError(
            f"{path}: delete key {pk!r} is not the table key "
            f"({manifest['pk']!r})"
        )
    token = _new_token()
    res = _delete_table_body(spark, path, manifest, keys, mode, f"gen-{token}")
    return _commit_dml(spark, path, manifest, {"": res}, token, extra_meta)


def _delete_table_body(
    spark: SparkSession, root: str, t: dict, keys: DataFrame, mode: str,
    gen: str,
) -> _TableWrite | None:
    """Per-table DELETE body of both layouts and both modes: find the
    keys that match a live row, then hand them to the copy-on-write
    writer (the affected buckets minus those keys) or the
    merge-on-read writer (the keys join the buckets' DVs and leave
    their overlays). ``None`` when no key matched (nothing written).
    Only buckets that CONTAIN a key are touched: a candidate bucket
    whose keys all miss is not identity-rewritten (no wasted IO, no
    phantom changed-bucket in the change feed), and a DV holds only
    rows actually deleted, so a replayed or miss-heavy key feed does
    not bloat it."""
    pk, nb = t["pk"], t["n_buckets"]
    # ONE job materializes the key frame with its bucket set; the
    # matched probe reads the checkpoint, not the caller's lineage
    k, km = _ckpt_with_buckets(
        keys.select(pk)
        .where(F.col(pk).isNotNull())
        .distinct()
        .withColumn(MERGE_BUCKET_COL, _bucket_expr(pk, nb))
    )
    candidates = [b for b in km["buckets"] if str(b) in t["buckets"]]
    if not candidates:
        return None
    # the DV-composed read: keys an earlier DV deleted do not match
    # again, and keys living in an UPDATE overlay do
    table = _bucket_rows(spark, root, t, candidates)
    # the matched keys materialize with their bucket set on one job
    # (a replay stops here); the DV and the overlay carry read them
    dead, dm = _ckpt_with_buckets(
        table.join(k.select(pk), pk, "left_semi").select(
            F.col(pk), _bucket_expr(pk, nb).alias(MERGE_BUCKET_COL)
        )
    )
    affected = dm["buckets"]
    if not affected:
        return None
    if mode == "dv":
        return _merge_on_read(
            spark, root, t, dead.select(pk), None, affected, gen
        )
    rows = _bucket_rows(spark, root, t, affected)
    return _copy_on_write(
        rows.join(k.select(pk), pk, "left_anti"), root, t, affected, gen
    )


def _update_predicate(prune, eq, where):
    """The UPDATE match predicate as ONE Column: the AND of the
    skipping conjuncts (identical semantics to
    :func:`_apply_skipping_residual`, so pruning on them is sound by
    construction — they ARE part of the predicate, not hints that
    could drift from it) and the free-form ``where``. Rows where the
    predicate is NULL do not match, exactly like SQL UPDATE."""
    pred = None

    def conj(p, c):
        return c if p is None else (p & c)

    for col, lo, hi in prune or []:
        pred = conj(pred, F.col(col).isNotNull())
        if lo is not None:
            pred = conj(pred, F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = conj(pred, F.col(col) <= F.lit(hi))
    for col, value in eq or []:
        pred = conj(
            pred,
            F.col(col).isNull() if value is None else F.col(col) == F.lit(value),
        )
    if where is not None:
        pred = conj(pred, F.expr(where) if isinstance(where, str) else where)
    return F.lit(True) if pred is None else pred


def _set_columns(table: DataFrame, set_exprs: dict, pred=None) -> list:
    """The UPDATE projection: ONE select evaluates every SET
    expression against the PRE-update row (SQL UPDATE semantics —
    sequential withColumn would let a later expression, or the
    predicate itself, re-resolve against an already-updated column, so
    ``{"a": "b", "b": "a"}`` would fail to swap), cast to the column's
    declared type (SQL UPDATE's implicit assignment cast, so a literal
    cannot silently widen the physical schema). With ``pred``, rows it
    does not match keep their values."""
    cols = []
    for c in table.columns:
        if c not in set_exprs:
            cols.append(F.col(c))
            continue
        e = set_exprs[c]
        expr = (F.expr(e) if isinstance(e, str) else e).cast(
            table.schema[c].dataType
        )
        if pred is not None:
            expr = F.when(pred, expr).otherwise(F.col(c))
        cols.append(expr.alias(c))
    return cols


def _update_table_body(
    spark: SparkSession,
    root: str,
    t: dict,
    set_exprs: dict,
    where,
    prune,
    eq,
    mode: str,
    gen: str,
) -> _TableWrite | None:
    """Per-table UPDATE body of both layouts and both modes: find the
    buckets that CONTAIN a matching row, then hand them to the
    copy-on-write writer (those buckets with the SET applied to the
    matching rows) or the merge-on-read writer (the matched pks die,
    their new versions go to the overlay). ``None`` when nothing
    matched (nothing written). Bucket targeting is two-tier:
    manifest-level skipping first (stats ranges, Bloom equalities —
    buckets PROVEN free of matches are never opened), then the exact
    contains-a-match refinement, so a candidate bucket whose rows all
    miss is not identity-rewritten (no wasted IO, no phantom
    change-feed entry).

    NULL-pk rows cannot be DV-updated (a NULL key anti-joins nothing,
    so the superseded base version would survive next to its
    replacement) — matching one in ``mode="dv"`` raises."""
    pk, nb = t["pk"], t["n_buckets"]
    bad = {pk, MERGE_BUCKET_COL} & set(set_exprs)
    if bad:
        raise ValueError(
            f"UPDATE cannot set {sorted(bad)}: the key determines the "
            "row's bucket (delete + insert to re-key)"
        )
    # validate SET columns against the LOGICAL schema BEFORE bucket
    # pruning: if skipping eliminates every candidate (or the
    # predicate matches nothing), a typo'd SET column must still
    # raise — a silent metadata-only "success" would tell the caller
    # the update applied. Pre-format manifests without recorded
    # schema fall through to the post-read check below.
    logical = _manifest_logical_columns(t)
    if logical is not None:
        unknown = sorted(set(set_exprs) - logical)
        if unknown:
            raise ValueError(
                f"UPDATE set column(s) {unknown} do not exist "
                f"(table has: {sorted(logical)})"
            )
    keep = sorted(_skipping_keep(spark, root, t, prune, None, eq))
    if not keep:
        return None
    table = _bucket_rows(spark, root, t, keep)
    unknown = sorted(set(set_exprs) - set(table.columns))
    if unknown:
        raise ValueError(
            f"UPDATE set column(s) {unknown} do not exist "
            f"(table has: {sorted(table.columns)})"
        )
    pred = _update_predicate(prune, eq, where)
    if mode == "rewrite":
        # the matched rows stay lazy (a full-table UPDATE must not
        # checkpoint the table): the bucket set is observed on one
        # scan, and the write re-reads only the buckets it found
        affected = _match_buckets(table.where(pred), pk, nb)
        if not affected:
            return None
        rows = _bucket_rows(spark, root, t, affected)
        return _copy_on_write(
            rows.select(*_set_columns(rows, set_exprs, pred)),
            root, t, affected, gen,
        )
    # ONE job materializes the matched sliver with BOTH driver scalars
    # observed on it (the null-pk guard and the affected bucket set);
    # the SET projection, the DV and the overlay carry read the
    # checkpoint, not the DV-composed candidate read again
    matched, mm = _ckpt_with_buckets(
        table.where(pred).withColumn(MERGE_BUCKET_COL, _bucket_expr(pk, nb)),
        F.count_if(F.col(pk).isNull()).alias("__nulls"),
    )
    matched = matched.drop(MERGE_BUCKET_COL)
    if int(mm["__nulls"]):
        raise ValueError(
            f"{root}: UPDATE mode='dv' matched a NULL-{pk} row — a "
            "NULL key cannot be deletion-vectored (its superseded "
            "version would survive); use mode='rewrite'"
        )
    if not mm["buckets"]:
        return None
    return _merge_on_read(
        spark, root, t, matched.select(pk),
        matched.select(*_set_columns(table, set_exprs)), mm["buckets"], gen,
    )


def update_versioned(
    spark: SparkSession,
    path: str,
    set_exprs: dict,
    where=None,
    prune: list[tuple] | None = None,
    eq: list[tuple] | None = None,
    base_token: str | None = None,
    extra_meta: dict | None = None,
    mode: str = "rewrite",
) -> dict:
    """Atomic SQL UPDATE on the versioned layout — the third DML verb
    next to MERGE and DELETE: rows matching the predicate get each
    ``set_exprs`` column replaced by its expression (a Column or SQL
    string, self-references like ``price * 1.1`` welcome); every
    other row and every untouched bucket stays byte-identical.

    The predicate is the AND of three optional parts: ``prune``
    range conjuncts and ``eq`` equality conjuncts (BOTH also drive
    manifest-level bucket skipping — stats and Blooms prove buckets
    match-free without opening them, so a selective UPDATE on a
    100 TB table rewrites only the buckets that can hold matches)
    plus a free-form ``where``. All three omitted = full-table
    update. The key column cannot be set (it determines the bucket).

    Concurrency and ``extra_meta`` follow the MERGE rules: same CAS
    commit chain, disjoint-bucket rebase, ``ConcurrentMergeError``
    on overlap. Matching nothing commits metadata only (or returns
    the head unchanged).

    ``mode="dv"`` switches to MERGE-ON-READ: instead of rewriting
    whole buckets, matched pks join the buckets' deletion vectors
    (killing the base versions) and the new row versions land in an
    UPDATE OVERLAY sidecar — KB-scale writes for a few-row UPDATE on
    a 100 TB table (:func:`_merge_on_read`); OPTIMIZE
    materializes both back to pure files; its overlay generation
    holds every NEW row version, so it gets the same write-side CHECK
    enforcement as a rewrite commit."""
    _check_mode(mode)
    manifest = _bucket_manifest(path, base_token)
    token = _new_token()
    res = _update_table_body(
        spark, path, manifest, set_exprs, where, prune, eq, mode,
        f"gen-{token}",
    )
    return _commit_dml(
        spark, path, manifest, {"": res}, token, extra_meta, adds_rows=True
    )


def apply_changes_versioned(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    base_token: str | None = None,
    extra_meta: dict | None = None,
) -> dict:
    """Apply a change-data-feed frame (the ``_change_type`` contract
    of :func:`diff_versioned`) to this table in ONE atomic commit:
    ``delete`` rows anti-join out, ``insert`` / ``update_postimage``
    rows are FULL-ROW upserts (replace-by-key, new keys land in their
    pk-hash buckets), ``update_preimage`` rows are ignored. With
    ``dst@from == src@from``, applying ``diff(src, from, to)`` makes
    ``dst@head == src@to`` exactly — the replication primitive; see
    :func:`replicate_versioned` for the one-call form.

    The target's OWN manifest names the key and bucket count, so a
    feed replays onto a replica with a different ``n_buckets`` (the
    incoming bucket column, if any, is discarded and re-derived).
    Affected buckets on the target = the pk-hash buckets of changed
    keys; everything else stays byte-identical. Buckets emptied by
    deletes drop from the manifest. One chain commit — readers never
    observe deletes without the matching upserts."""
    return _apply_changes_tables(
        spark, path, _bucket_manifest(path, base_token), {"": changes},
        extra_meta,
    )


def _apply_changes_tables(
    spark: SparkSession,
    path: str,
    manifest: dict,
    changes: dict[str, DataFrame],
    extra_meta: dict | None,
) -> dict:
    """The CDC-apply of both layouts: each table's feed applies onto
    snapshot ``manifest`` and ONE commit publishes them together."""
    _require_tables(path, manifest, changes)
    tables = _layout_tables(manifest)
    token = _new_token()
    writes = {
        name: _apply_changes_to_table(
            spark, _table_root(path, name), tables[name], ch, f"gen-{token}"
        )
        for name, ch in changes.items()
    }
    return _commit_dml(
        spark, path, manifest, writes, token, extra_meta, adds_rows=True
    )


def _apply_changes_to_table(
    spark: SparkSession, root: str, t: dict, changes: DataFrame, gen: str
) -> _TableWrite | None:
    """Per-table CDC-apply body shared by both layouts: validates the
    feed, writes the affected buckets' new state under
    ``<root>/<gen>``, and returns the rewritten buckets (``None``
    generations mark emptied buckets) with the written schema, or
    ``None`` when no row of the feed touches this table (nothing
    written)."""
    pk = t["pk"]
    if "_change_type" not in changes.columns:
        raise ValueError(
            f"{root}: changes frame lacks the _change_type column"
        )
    data_cols = [
        c for c in changes.columns
        if c not in ("_change_type", MERGE_BUCKET_COL)
    ]
    if pk not in data_cols:
        raise ValueError(
            f"{root}: changes frame lacks the table key {pk!r} "
            f"(has: {data_cols})"
        )
    from pyspark import StorageLevel

    # materialize the feed ONCE: the guards, bucket scans, and the
    # final write each run an action, and the incoming frame is often
    # the lazy diff_versioned plan (a full-outer join over every
    # changed source bucket) — without this, replication recomputes
    # that join ~5 times. persist(DISK_ONLY), not localCheckpoint:
    # the lineage stays attached, so a lost executor's blocks
    # recompute instead of failing the apply mid-flight.
    ch = changes.where(F.col(pk).isNotNull()).persist(
        StorageLevel.DISK_ONLY
    )
    try:
        return _apply_changes_body(
            spark, root, t, ch, gen, data_cols
        )
    finally:
        ch.unpersist(blocking=False)


def _apply_changes_body(
    spark: SparkSession,
    root: str,
    t: dict,
    ch: DataFrame,
    gen: str,
    data_cols: list[str],
) -> _TableWrite | None:
    pk, n_buckets = t["pk"], t["n_buckets"]
    base_buckets = t["buckets"]
    # ONE grouped validation job replaces FIVE driver actions over the
    # persisted feed: the unknown-type probe, the duplicate-post-image
    # probe, the post-image∧delete probe (each a limit(1).collect —
    # 2 executeTake jobs apiece when clean, the normal case) and the
    # two distinct-bucket collects. A per-pk aggregate carries the
    # violation counters and min-pk/min-value samples, a per-bucket
    # re-aggregate (bounded by n_buckets rows) carries them plus the
    # has-upsert/has-delete flags the bucket sets need; the driver
    # raises with the same precedence (unknown → dup → both) and the
    # IDENTICAL message format — only the sampled value, which the old
    # limit(1) picked arbitrarily, is now the deterministic minimum.
    _NULLTYPE = "\x00<null>"
    is_unknown = F.col("_change_type").isNull() | ~F.col(
        "_change_type"
    ).isin("insert", "delete", "update_preimage", "update_postimage")
    is_post = F.col("_change_type").isin("insert", "update_postimage")
    is_del = F.col("_change_type") == "delete"
    per_pk = ch.groupBy(F.col(pk).alias("__pk")).agg(
        F.sum(is_unknown.cast("long")).alias("__nu"),
        F.min(
            F.when(
                is_unknown,
                F.coalesce(F.col("_change_type"), F.lit(_NULLTYPE)),
            )
        ).alias("__us"),
        F.sum(is_post.cast("long")).alias("__np"),
        F.sum(is_del.cast("long")).alias("__nd"),
    )
    summary = (
        per_pk.groupBy(
            _bucket_expr("__pk", n_buckets).alias("__b")
        )
        .agg(
            F.sum("__nu").alias("nu"),
            F.min("__us").alias("us"),
            F.min(F.when(F.col("__np") > 1, F.col("__pk"))).alias("dup_pk"),
            F.min(
                F.when(
                    (F.col("__np") > 0) & (F.col("__nd") > 0), F.col("__pk")
                )
            ).alias("both_pk"),
            F.max((F.col("__np") > 0).cast("int")).alias("has_up"),
            F.max((F.col("__nd") > 0).cast("int")).alias("has_del"),
        )
        .collect()
    )
    if sum(r["nu"] for r in summary) > 0:
        us = min(r["us"] for r in summary if r["us"] is not None)
        raise ValueError(
            "unknown _change_type "
            f"{(None if us == _NULLTYPE else us)!r}; a "
            "feed carries only insert / delete / update_preimage / "
            "update_postimage — silently skipping rows would diverge "
            "the replica"
        )
    dup = [r["dup_pk"] for r in summary if r["dup_pk"] is not None]
    if dup:
        raise ValueError(
            f"changes contain multiple post-image rows for pk "
            f"{min(dup)!r}; a feed between two snapshots has at most "
            "one — collapse replayed feeds to latest-per-key first"
        )
    both = [r["both_pk"] for r in summary if r["both_pk"] is not None]
    if both:
        raise ValueError(
            f"changes carry BOTH a post-image and a delete for pk "
            f"{min(both)!r}; one snapshot pair never produces that — "
            "applying them in one commit is order-ambiguous, so order "
            "and collapse the feed to each key's last action first"
        )
    upserts = ch.where(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select(*data_cols)
    dels = ch.where(F.col("_change_type") == "delete").select(pk)
    upsert_buckets = set(r["__b"] for r in summary if r["has_up"])
    del_candidates = set(
        r["__b"]
        for r in summary
        if r["has_del"] and str(r["__b"]) in base_buckets
    )
    candidates = sorted(upsert_buckets | del_candidates)
    if not candidates:
        return None
    set_cols = [c for c in data_cols if c != pk]
    table = _merge_target_frame(spark, root, t, candidates, upserts, pk, set_cols)
    if set(table.columns) != set(data_cols):
        raise ValueError(
            f"{root}: changes columns {sorted(data_cols)} do not match "
            f"the table's {sorted(table.columns)} — a feed replays only "
            "onto a schema-identical replica (ALTER the target first)"
        )
    # upsert buckets always rewrite (inserts create them); delete-only
    # buckets rewrite ONLY when a key actually matches — a replayed or
    # stale feed whose deletes all miss must not identity-rewrite
    # buckets (wasted IO and phantom changed-buckets in the next diff)
    matched_del = set(
        _match_buckets(table.join(dels, pk, "left_semi"), pk, n_buckets)
    ) if (del_candidates - upsert_buckets) else set()
    affected = sorted(upsert_buckets | (matched_del & del_candidates))
    if not affected:
        return None
    keys = upserts.select(pk).unionByName(dels).distinct()
    rows = _merge_target_frame(spark, root, t, affected, upserts, pk, set_cols)
    return _copy_on_write(
        rows.join(keys, pk, "left_anti").unionByName(upserts),
        root, t, affected, gen,
    )


def replicate_versioned(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    from_token: str,
    to_token: str | None = None,
    extra_meta: dict | None = None,
) -> dict:
    """One-call incremental replication: compute the source's change
    feed over ``(from_token, to_token]`` and apply it to the target
    atomically. Reads only the source buckets that changed and
    rewrites only the target buckets the changed keys hash to — an
    incremental sync whose cost tracks change volume on BOTH sides.
    The target may use a different ``n_buckets`` (feeds re-derive
    buckets from the target's manifest), but must share the key and
    column schema, and must hold the source's ``from_token`` state for
    the result to equal the source's ``to_token`` state."""
    return _replicate(
        spark, src_path, dst_path, from_token, to_token, None, extra_meta, False
    )


def delete_from_versioned_db(
    spark: SparkSession,
    path: str,
    keys: dict[str, DataFrame],
    base_token: str | None = None,
    extra_meta: dict | None = None,
    mode: str = "rewrite",
) -> dict:
    """Transactional DELETE across tables — the db twin of
    :func:`delete_from_versioned`: every table's matched buckets are
    rewritten (or, with ``mode="dv"``, merge-on-read deletion-vector
    sidecars written) under ONE shared-token generation, then a
    single chain commit publishes the whole erasure (all tables
    forget the keys together or not at all — the GDPR shape for
    entities spanning tables). Each table's key column comes from its
    own manifest entry; per-table semantics (anti-join rewrite /
    DV union, emptied-bucket drop, NULL/absent keys as no-ops) match
    the single-table DELETE, and concurrency follows the
    transactional MERGE rules."""
    _check_mode(mode)
    manifest = _db_manifest(path, base_token)
    _require_tables(path, manifest, keys)
    token = _new_token()
    writes = {
        name: _delete_table_body(
            spark, os.path.join(path, name), manifest["tables"][name],
            keys_df, mode, f"gen-{token}",
        )
        for name, keys_df in keys.items()
    }
    return _commit_dml(spark, path, manifest, writes, token, extra_meta)


def update_versioned_db(
    spark: SparkSession,
    path: str,
    updates: dict[str, dict],
    base_token: str | None = None,
    extra_meta: dict | None = None,
    mode: str = "rewrite",
) -> dict:
    """Transactional UPDATE across tables — the db twin of
    :func:`update_versioned`: every named table's matched buckets are
    rewritten under ONE shared-token generation and a single chain
    commit publishes them together (a fact reprice and its dim's
    flag flip become visible atomically). ``updates`` maps table name
    to a spec dict with ``set`` (column → expression) and any of the
    single-table predicate parts ``where`` / ``prune`` / ``eq``.
    Per-table semantics (two-tier bucket targeting, assignment casts,
    key column protected) match the single-table UPDATE; concurrency
    follows the transactional MERGE rules. ``mode="dv"`` applies the
    merge-on-read path (DV + UPDATE overlay sidecars, no bucket
    rewrites) to every named table, all under one transaction."""
    _check_mode(mode)
    manifest = _db_manifest(path, base_token)
    _require_tables(path, manifest, updates)
    for name, spec in updates.items():
        if not isinstance(spec, dict) or "set" not in spec:
            raise ValueError(
                f"{path}: update spec for {name!r} must be a dict "
                "with a 'set' mapping"
            )
        unknown = set(spec) - {"set", "where", "prune", "eq"}
        if unknown:
            raise ValueError(
                f"{path}: unknown update spec key(s) {sorted(unknown)} "
                f"for {name!r} (allowed: set, where, prune, eq)"
            )
    token = _new_token()
    writes = {
        name: _update_table_body(
            spark, os.path.join(path, name), manifest["tables"][name],
            spec["set"], spec.get("where"), spec.get("prune"),
            spec.get("eq"), mode, f"gen-{token}",
        )
        for name, spec in updates.items()
    }
    return _commit_dml(
        spark, path, manifest, writes, token, extra_meta, adds_rows=True
    )


def apply_changes_versioned_db(
    spark: SparkSession,
    path: str,
    changes: dict[str, DataFrame],
    base_token: str | None = None,
    extra_meta: dict | None = None,
) -> dict:
    """Transactional CDC-apply — the db twin of
    :func:`apply_changes_versioned`: each table's feed applies with
    single-table semantics (full-row upserts, anti-join deletes,
    preimages ignored, malformed feeds raise before anything commits),
    and ONE chain commit publishes every table's changes together —
    a replica never shows table A's state from a different transaction
    than table B's."""
    return _apply_changes_tables(
        spark, path, _db_manifest(path, base_token), changes, extra_meta
    )


def replicate_versioned_db(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    from_token: str,
    to_token: str | None = None,
    tables: list[str] | None = None,
    extra_meta: dict | None = None,
) -> dict:
    """One-call transactional replication: compute every table's
    change feed over ``(from_token, to_token]`` of the source database
    and apply them to the target in ONE transaction — the replica
    moves between cross-table-consistent states, never a torn mix.
    ``tables`` restricts the sync (default: every table present in
    both source snapshots); a table the source re-init added or
    dropped between the tokens cannot be diffed and must be synced by
    a full rewrite instead."""
    return _replicate(
        spark, src_path, dst_path, from_token, to_token, tables, extra_meta, True
    )


def _replicate(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    from_token: str,
    to_token: str | None,
    tables: list[str] | None,
    extra_meta: dict | None,
    db: bool,
) -> dict:
    """The replication of both layouts: diff every table (default:
    every table in both source snapshots) over ONE resolved snapshot
    pair — re-resolving the head per table would let a concurrent
    source commit tear the replica — and apply the feeds to the
    target's head in one commit."""
    mf = _layout_manifest(src_path, from_token, db)
    mt = _layout_manifest(src_path, to_token, db)
    if tables is None:
        tables = sorted(set(_layout_tables(mf)) & set(_layout_tables(mt)))
    feeds = {name: _diff_table(spark, src_path, name, mf, mt) for name in tables}
    return _apply_changes_tables(
        spark, dst_path, _layout_manifest(dst_path, None, db), feeds,
        extra_meta,
    )


def _apply_extra_meta(out: dict, extra_meta: dict | None) -> None:
    """Merge caller metadata into a manifest about to be claimed —
    run by the data-commit loop for both layouts. extra_meta keys
    DEEP-merge over dict values; the "streams" map is additionally
    MONOTONIC per stream — committing a batch marker at or below the
    head's is refused (:class:`StaleStreamBatch`), because blindly
    overwriting a newer marker would let a paused stale writer regress
    both data and progress (the failover TOCTOU). Callers run this on
    the base AND on every rebase, so the check is always against the
    exact manifest being extended."""
    for k, v in (extra_meta or {}).items():
        if k == "streams" and isinstance(v, dict):
            cur = out.get("streams", {})
            for sid, bid in v.items():
                if sid in cur and bid <= cur[sid]:
                    raise StaleStreamBatch(
                        f"stream {sid!r} batch {bid} is already "
                        f"committed (head marker {cur[sid]})"
                    )
            out[k] = {**cur, **v}
        elif isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = {**out[k], **v}
        else:
            out[k] = v


class _TableWrite(NamedTuple):
    """One table's part of a data commit, as every per-table DML body
    returns it: ``buckets`` maps each rewritten bucket to its new
    generation (``None`` drops a bucket a delete emptied), ``dv`` and
    ``patch`` overlay deletion-vector and UPDATE-overlay entries (a
    ``None`` patch entry drops the bucket's overlay), and ``written``
    is the physical schema of the generation written (``None`` when
    no data file was)."""

    buckets: dict
    written: StructType | None
    dv: dict | None = None
    patch: dict | None = None

    def touched(self) -> set:
        return set(self.buckets) | set(self.dv or {}) | set(self.patch or {})


_NO_WRITE = _TableWrite({}, None)


def _new_token() -> str:
    import uuid

    return uuid.uuid4().hex[:12]


def _layout_tables(manifest: dict) -> dict:
    """The ``{table: entry}`` view the commit core works on: a
    database's ``tables`` map, or a single table as the one-table
    database ``{"": manifest}`` (its manifest IS its entry, so the
    on-disk format stays flat)."""
    if manifest.get("kind") == "versioned-db":
        return manifest["tables"]
    return {"": manifest}


def _table_root(path: str, name: str) -> str:
    """A table's directory: the root itself for a single table,
    ``<path>/<name>`` in a database."""
    return os.path.join(path, name) if name else path


def _require_tables(path: str, manifest: dict, names) -> None:
    tables = _layout_tables(manifest)
    for name in names:
        if name not in tables:
            raise ValueError(
                f"{path}: no table {name!r} in this snapshot "
                f"(has: {sorted(tables)})"
            )


def _live_buckets(base: dict, ours: dict) -> dict:
    """Overlay rewritten buckets onto a base map; a ``None``
    generation DROPS the bucket (a delete emptied it) — the
    None-drop invariant of the commit core."""
    out = {**base, **ours}
    return {b: g for b, g in out.items() if g is not None}


def _stamp_table(t: dict, w: _TableWrite, stats: dict | None) -> dict:
    """Apply one table's writes to the entry being extended (the
    snapshot, or a rebase head). A rewritten bucket SHEDS its DV and
    UPDATE-overlay entries (the rewrite read the DV-composed frame, so
    the physical and the metadata shed are one atomic commit); fresh
    DV/overlay entries overlay. Bucket stats are purge-then-overlay
    against the exact map being extended: a bucket rewritten without
    a fresh harvest keeps NO stats (conservative read), never the
    superseded entry, and a bucket gaining an overlay purges too (its
    base stats describe superseded values). ``written`` is reconciled
    with the recorded schema (:func:`_adopt_written_schema`), so a
    widening commits atomically with the data. The init's ``rows``
    count goes with the first write that touches the table: a count
    the commit cannot vouch for must not ride on (it would be false
    for the new snapshot)."""
    live = _live_buckets(t["buckets"], w.buckets)
    out = {**t, "buckets": live}
    if w.touched():
        out.pop("rows", None)
    for key, fresh in (("dv", w.dv), ("patch", w.patch)):
        m = {
            b: g for b, g in (t.get(key) or {}).items() if b not in w.buckets
        }
        m.update(fresh or {})
        m = {b: g for b, g in m.items() if g is not None}
        if m:
            out[key] = m
        else:
            out.pop(key, None)
    if "bucket_stats" in t or stats:
        out["bucket_stats"] = _carry_bucket_stats(
            t, set(w.buckets) | set(w.patch or {}), stats, live
        )
    return _adopt_written_schema(out, w.written)


def _rebase_conflict(
    path: str, base: dict, head: dict, head_seq: int,
    writes: dict[str, _TableWrite], adds_rows: bool,
) -> None:
    """Raise :class:`ConcurrentMergeError` when a lost claim race
    cannot rebase: for every table this commit wrote, any touched
    bucket (rewritten, DV'd or overlaid) whose generation, DV entry or
    overlay entry moved since the snapshot — both directions conflict
    symmetrically: a rewrite racing a DV commit would resurrect the
    deleted rows (its files predate the DV), and a DV commit racing a
    rewrite may have unioned a superseded vector; a table an
    intervening full rewrite removed; a changed CHECK constraint set
    for a ROW-INTRODUCING commit (``adds_rows``: its rows were
    validated against the snapshot's constraints only — the window
    Delta leaves open; a relaxed set conflicts too, cheaper than
    proving implication); and a RENAME, since this commit's stats and
    evaluated expressions used the snapshot's logical names. One
    table raising fails the whole transaction (a partial rebase would
    tear it)."""
    base_tables, head_tables = _layout_tables(base), _layout_tables(head)
    for name in sorted(writes):
        touched = writes[name].touched()
        label = f"{path}: table {name!r}" if name else path
        ht = head_tables.get(name)
        if ht is None:
            raise ConcurrentMergeError(
                f"{label} was removed by a full rewrite (commits up to "
                f"seq {head_seq}); re-run against the new head"
            )
        bt = base_tables[name]
        for key, what in (
            ("buckets", "bucket(s)"),
            ("dv", "deletion vector(s) on bucket(s)"),
            ("patch", "UPDATE overlay(s) on bucket(s)"),
        ):
            hm, bm = ht.get(key) or {}, bt.get(key) or {}
            if any(hm.get(b) != bm.get(b) for b in touched):
                raise ConcurrentMergeError(
                    f"{label}: {what} {sorted(touched)} changed (commits "
                    f"up to seq {head_seq}) after this write's snapshot; "
                    "re-run against the new head"
                )
        if adds_rows and ht.get("constraints") != bt.get("constraints"):
            raise ConcurrentMergeError(
                f"{label}: the CHECK constraint set changed (commits up "
                f"to seq {head_seq}) after this write validated its rows "
                "against its snapshot's constraints; re-run against the "
                "new head"
            )
        if ht.get("column_map") != bt.get("column_map"):
            raise ConcurrentMergeError(
                f"{label}: a column was renamed (commits up to seq "
                f"{head_seq}) after this write's snapshot; re-run "
                "against the new head"
            )


def _commit_tables(
    path: str,
    base: dict,
    writes: dict[str, _TableWrite],
    token: str,
    extra_meta: dict | None = None,
    stats: dict[str, dict] | None = None,
    adds_rows: bool = False,
) -> dict:
    """THE data-commit CAS loop of both layouts: stamp ``writes``
    (``{table: _TableWrite}``, ``""`` for a single table) onto the
    snapshot ``base``, claim the next seq; on a lost race rebase onto
    the head when :func:`_rebase_conflict` finds nothing, else raise.
    Every rebase re-stamps from the head, so newer ALTER metadata,
    stream markers and stats carry over, and ``extra_meta`` (deep
    merged, monotonic per stream — :func:`_apply_extra_meta`) is
    checked against the exact manifest being extended. ``stats`` maps
    table to its fresh bucket-stats harvest."""

    def stamped(src: dict, seq: int) -> dict:
        tables = {
            n: _stamp_table(t, writes.get(n, _NO_WRITE), (stats or {}).get(n))
            for n, t in _layout_tables(src).items()
        }
        if src.get("kind") == "versioned-db":
            out = {**src, "tables": tables}
        else:
            out = tables[""]
        out = {k: v for k, v in out.items() if k != "committed_at"}
        out.update(token=token, seq=seq)
        _apply_extra_meta(out, extra_meta)
        return out

    seq, parent = int(base.get("seq", 0)) + 1, base
    while True:
        new_manifest = stamped(parent, seq)
        try:
            _claim_commit(path, seq, new_manifest, parent=parent)
            return new_manifest
        except FileExistsError:
            head_seq, head = _commit_chain_head(path)
            _rebase_conflict(path, base, head, head_seq, writes, adds_rows)
            seq, parent = head_seq + 1, head


def _commit_dml(
    spark: SparkSession,
    path: str,
    manifest: dict,
    writes: dict[str, _TableWrite | None],
    token: str,
    extra_meta: dict | None = None,
    adds_rows: bool = False,
) -> dict:
    """The DML driver of both layouts: ``writes`` holds each table's
    body result (``None`` = nothing to change) for generation
    ``gen-<token>``. Row-introducing verbs (``adds_rows``: MERGE,
    UPDATE, CDC-apply) validate every written table against its CHECK
    constraints; tables that opted into stats harvest their rewritten
    buckets; then ONE commit publishes every table together. With
    nothing written, caller metadata (a stream's batch marker) still
    commits — "the marker rides with the data" must hold for batches
    that matched nothing — and without it the snapshot is returned."""
    writes = {n: w for n, w in writes.items() if w is not None}
    if not writes and not extra_meta:
        return manifest
    tables = _layout_tables(manifest)
    gen = f"gen-{token}"
    if adds_rows:
        for n, w in writes.items():
            _enforce_constraints(
                spark, _table_root(path, n), tables[n], gen, w.written
            )
    stats = {
        n: _harvest_bucket_stats(
            spark, _table_root(path, n), gen, tables[n], w.written
        )
        for n, w in writes.items()
        if w.buckets and _wants_stats(tables[n])
    }
    new_manifest = _commit_tables(
        path, manifest, writes, token, extra_meta, stats, adds_rows
    )
    _publish_manifest(path, new_manifest)
    return new_manifest


def _commit_meta_edit(
    path: str, edit, table: str | None = None, db: bool = False
) -> dict:
    """THE metadata-commit loop of both layouts (ALTERs, constraints,
    RESTORE): read the head, let ``edit(entry, root)`` build the new
    entry — it validates and may raise to refuse — and claim the next
    seq; a lost race starts over from the new head. The head IS the
    base, so everything (validation included) is rebuilt per attempt:
    committing a stale entry would revert concurrent merges or drop
    concurrent ALTERs. ``table`` names a database table; without it
    the edit gets the whole manifest (a single table, or a database
    when ``db``)."""
    db = db or table is not None
    token = _new_token()
    while True:
        head = _layout_manifest(path, None, db)
        if table is None:
            new_manifest = edit(head, path)
        else:
            _require_tables(path, head, [table])
            new_manifest = {
                **head,
                "tables": {
                    **head["tables"],
                    table: edit(head["tables"][table], _table_root(path, table)),
                },
            }
        new_manifest = {
            **{k: v for k, v in new_manifest.items() if k != "committed_at"},
            "token": token,
            "seq": int(head.get("seq", 0)) + 1,
        }
        try:
            _claim_commit(path, new_manifest["seq"], new_manifest, parent=head)
            break
        except FileExistsError:
            continue
    _publish_manifest(path, new_manifest)
    return new_manifest


def _mor_fraction(root: str, entry: dict, b: str) -> float | None:
    """Merge-on-read invalidation fraction of bucket ``b``: (DV pks +
    UPDATE overlay rows) / physical base rows, read from parquet
    FOOTER metadata only (pyarrow num_rows — no Spark job, no data
    pages). ``None`` when any footer is unreadable — callers treat
    that as "materialize" (conservative)."""
    import pyarrow.parquet as pq

    def rows_in(gen: str) -> int | None:
        leaf = os.path.join(root, gen, f"{MERGE_BUCKET_COL}={b}")
        total = 0
        try:
            names = [
                f for f in os.listdir(leaf)
                if f.endswith(".parquet") and not f.startswith(".")
            ]
            for f in names:
                total += pq.ParquetFile(os.path.join(leaf, f)).metadata.num_rows
        except (OSError, ValueError):
            return None
        return total

    side = 0
    for m in (_dv_map(entry), _patch_map(entry)):
        gen = m.get(b)
        if gen is not None:
            n = rows_in(gen)
            if n is None:
                return None
            side += n
    base = rows_in(entry["buckets"][b]) if b in entry["buckets"] else 0
    if base is None or not base:
        return None
    return side / base


def optimize_versioned(
    spark: SparkSession,
    path: str,
    max_files: int = 1,
    base_token: str | None = None,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    files_per_bucket: int = 1,
    min_dv_frac: float = 0.0,
) -> tuple[dict, list[int]]:
    """Small-file compaction (the Delta OPTIMIZE twin): buckets whose
    CURRENT directory holds more than ``max_files`` part files — the
    residue of wide-parallelism writes, where every shuffle partition
    contributes a file per bucket — are rewritten one-file-per-bucket
    under a new generation and committed on the chain. Data is
    ROW-identical (the rewrite shuffles row order and re-encodes
    parquet pages, so bytes differ; untouched buckets stay
    byte-identical); only the file layout changes, so scans stop
    paying per-file open/footer costs on merge-hot buckets.

    Returns ``(manifest, compacted_bucket_ids)``; concurrency follows
    the MERGE rules (a concurrent merge to a bucket being compacted
    conflicts — re-run; compaction of untouched buckets rebases).

    ``min_dv_frac`` gates merge-on-read materialization: DV'd or
    UPDATE-overlaid buckets qualify only when (vector pks + overlay
    rows) / base rows ≥ the threshold — footer-metadata arithmetic,
    no scan — so steady-state merge-on-read tables are not rewritten
    for sub-percent vectors. 0.0 (default) keeps the always-qualify
    behavior.

    At 100 TB: compaction is the steady-state companion of
    bucket-scoped MERGE — run it on the buckets the merge traffic
    touches, sized so one bucket's rewrite fits an executor's output
    budget (~128 MB-1 GB files).

    ``cluster_by`` turns the run into a CLUSTERING rewrite (the Delta
    ``OPTIMIZE ... ZORDER`` role for a hash-bucketed layout): EVERY
    live bucket is rewritten with its rows sorted by those columns, so
    parquet row-group min/max stats become tight and selective scans
    skip row groups inside each bucket — the within-bucket complement
    of manifest-level bucket skipping (bucket membership itself is
    pinned by the pk hash and cannot move). The manifest records
    ``clustered_by``; later merges rewrite only their affected buckets
    unsorted, so re-run clustering after heavy merge traffic.

    ``zorder_by`` is the MULTI-dimensional clustering twin: a linear
    ``cluster_by`` sort makes row-group stats tight on the FIRST
    column only — a 2-d box predicate still scans every row group for
    the second dimension. Z-ordering sorts by the Morton interleave
    of the columns' 16-bit range codes (global min/max scaled), so
    row groups become tight in EVERY listed dimension at once — the
    Delta ``ZORDER BY`` semantics on this layout. Numeric/date/
    timestamp columns only (they cast to double for scaling; NULLs
    sort first as code 0); measured trade-offs in SCALE_NOTES
    §z-order."""
    if cluster_by and zorder_by:
        raise ValueError("cluster_by and zorder_by are mutually exclusive")
    if files_per_bucket < 1:
        raise ValueError(
            f"files_per_bucket must be >= 1, got {files_per_bucket}"
        )
    if files_per_bucket > 1 and not (cluster_by or zorder_by):
        raise ValueError(
            "files_per_bucket > 1 requires cluster_by or zorder_by: "
            "splitting an unsorted bucket multiplies file count "
            "without making any file's stats selective"
        )
    if max_files < 1:
        # 0 would make EVERY bucket a permanent candidate: each run
        # rewrites the whole table into a fresh generation forever —
        # unbounded write amplification, never idempotent
        raise ValueError(f"max_files must be >= 1, got {max_files}")
    manifest = _bucket_manifest(path, base_token)
    token = _new_token()
    res = _optimize_table_body(
        spark, path, manifest, max_files, cluster_by, zorder_by,
        files_per_bucket, min_dv_frac, f"gen-{token}",
    )
    if res is None:
        return manifest, []
    if cluster_by or zorder_by:
        # cluster_kind is stamped on BOTH branches: extra_meta merges
        # overlay-only, so a linear rewrite after a zorder one would
        # otherwise keep the stale 'zorder' label
        cluster_meta = {
            "clustered_by": list(cluster_by or zorder_by),
            "cluster_kind": "linear" if cluster_by else "zorder",
        }
    else:
        cluster_meta = None
    new_manifest = _commit_dml(
        spark, path, manifest, {"": res}, token, cluster_meta
    )
    return new_manifest, sorted(int(b) for b in res.buckets)


def _optimize_table_body(
    spark: SparkSession,
    root: str,
    t: dict,
    max_files: int,
    cluster_by: list[str] | None,
    zorder_by: list[str] | None,
    files_per_bucket: int,
    min_dv_frac: float,
    gen: str,
) -> _TableWrite | None:
    """Per-table OPTIMIZE body shared by both layouts: pick the
    candidate buckets (every live one for a clustering rewrite; else
    those with more than ``max_files`` part files, or with a DV or
    UPDATE overlay past the ``min_dv_frac`` floor) and rewrite them,
    one file per bucket (or ``files_per_bucket`` range-split sorted
    files), under ``<root>/<gen>``; ``None`` when nothing qualifies."""
    if cluster_by or zorder_by:
        candidates = sorted(int(b) for b in t["buckets"])
    else:
        candidates = []
        mor = set(_dv_map(t)) | set(_patch_map(t))
        for b, g in t["buckets"].items():
            bdir = os.path.join(root, g, f"{MERGE_BUCKET_COL}={b}")
            try:
                n_files = sum(
                    1 for f in os.listdir(bdir)
                    if f.endswith(".parquet") and not f.startswith(".")
                )
            except FileNotFoundError:
                continue
            # a DV'd or UPDATE-overlaid bucket qualifies: compaction
            # is how merge-on-read deletes and updates materialize
            # back to pure files. min_dv_frac > 0 adds a deleted/
            # updated-fraction floor (footer-metadata only) so a
            # long-lived merge-on-read table is not rewritten for a
            # 0.1% vector; an unreadable footer materializes
            # conservatively.
            if n_files > max_files:
                candidates.append(int(b))
            elif b in mor:
                if min_dv_frac <= 0.0:
                    candidates.append(int(b))
                else:
                    frac = _mor_fraction(root, t, b)
                    if frac is None or frac >= min_dv_frac:
                        candidates.append(int(b))
        candidates.sort()
    if not candidates:
        return None
    pk, nb = t["pk"], t["n_buckets"]
    # logical read, so cluster_by/zorder_by take the user-facing
    # (post-RENAME) names; the write translates back to physical.
    # Compaction MATERIALIZES merge-on-read deletes and updates (the
    # commit sheds the rewritten buckets' DV and overlay entries).
    out = _bucket_rows(spark, root, t, candidates).withColumn(
        MERGE_BUCKET_COL, _bucket_expr(pk, nb)
    )
    if zorder_by:
        # bounds come from the PRE-repartition frame (a projection of
        # just the zorder columns) — aggregating after the explicit
        # repartition would shuffle the whole table to produce 1 row
        zkey = _zorder_expr(out, zorder_by)
    if files_per_bucket > 1:
        # RANGE-split clustering: partition boundaries follow (bucket,
        # sort key), so each task holds one bucket's contiguous key
        # subrange and partitionBy writes it as one file — a bucket
        # becomes ~files_per_bucket SORTED files with DISJOINT key
        # ranges, exactly the layout that makes per-file min/max
        # sidecar stats (file_stats=True) selective inside a bucket.
        # A boundary task can straddle two buckets; each then gets one
        # extra small file — bounded by the task count, not data.
        keys = (
            [F.col(c) for c in cluster_by] if cluster_by else [zkey]
        )
        out = out.repartitionByRange(
            len(candidates) * files_per_bucket,
            F.col(MERGE_BUCKET_COL),
            *keys,
        ).sortWithinPartitions(MERGE_BUCKET_COL, *keys)
    else:
        # each bucket's rows hash to ONE task (tasks may carry several
        # buckets or none), and partitionBy writes one file per bucket
        # value per task -> exactly one file per bucket directory
        out = out.repartition(len(candidates), F.col(MERGE_BUCKET_COL))
        if cluster_by:
            # bucket-first sort keeps each bucket's rows contiguous in
            # the task; the parquet writer then lays the cluster
            # columns down monotonically within every file → tight
            # row-group stats
            out = out.sortWithinPartitions(
                MERGE_BUCKET_COL, *[F.col(c) for c in cluster_by]
            )
        elif zorder_by:
            out = out.sortWithinPartitions(MERGE_BUCKET_COL, zkey)
    written = _write_generation(out, root, gen, t)
    return _TableWrite({str(b): gen for b in candidates}, written)


_ZORDER_MAX_BITS = 16


def _zorder_expr(df: DataFrame, cols: list[str]):
    """Morton (Z-curve) sort key over ``cols``: each column scales to
    a range code against its GLOBAL min/max (one bounded 1-row
    aggregate over a projection of just these columns — the only
    driver read), and the codes' bits interleave so a sort by the
    result is simultaneously local in every dimension.

    Bits per dimension = min(16, 62 // k), so the highest bit
    position is always below the long's sign bit — Spark's
    ``shiftleft`` wraps its shift amount mod 64, which would silently
    scramble the key for 4+ columns at 16 bits. NULLs and non-finite
    floats take code 0 (sort first, like a NULLS FIRST linear sort;
    NaN/±Inf are also EXCLUDED from the min/max so one bad value
    cannot zero a whole dimension's scaling). A constant or all-null
    column contributes code 0 everywhere (no discrimination to
    encode). Numeric, date and timestamp columns only — anything else
    cannot be range-scaled without an order-changing encoding, so it
    raises."""
    import math

    from pyspark.sql.types import (
        DateType,
        DoubleType,
        FloatType,
        NumericType,
        TimestampNTZType,
        TimestampType,
    )

    as_d = {}
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, DateType):
            # date cannot cast straight to double; days-since-epoch is
            # the order-preserving scale
            as_d[c] = F.unix_date(F.col(c)).cast("double")
        elif isinstance(dt, (TimestampType, TimestampNTZType)):
            as_d[c] = F.col(c).cast("double")
        elif isinstance(dt, (FloatType, DoubleType)):
            raw = F.col(c).cast("double")
            inf = F.lit(float("inf"))
            as_d[c] = F.when(
                F.isnan(raw) | (raw == inf) | (raw == -inf), F.lit(None)
            ).otherwise(raw)
        elif isinstance(dt, NumericType):
            as_d[c] = F.col(c).cast("double")
        else:
            raise TypeError(
                f"zorder_by: column {c!r} has non-range-scalable type "
                f"{dt.simpleString()} (numeric/date/timestamp only)"
            )
    bounds = df.select(
        *[as_d[c].alias(f"__z_{i}") for i, c in enumerate(cols)]
    ).agg(
        *[F.min(f"__z_{i}").alias(f"__mn_{i}") for i in range(len(cols))],
        *[F.max(f"__z_{i}").alias(f"__mx_{i}") for i in range(len(cols))],
    ).collect()[0]
    k = len(cols)
    bits = min(_ZORDER_MAX_BITS, 62 // k)
    top = (1 << bits) - 1
    codes = []
    for j, c in enumerate(cols):
        mn, mx = bounds[f"__mn_{j}"], bounds[f"__mx_{j}"]
        if (
            mn is None or mx is None or mx == mn
            or not (math.isfinite(mn) and math.isfinite(mx))
        ):
            codes.append(F.lit(0))  # all-null/constant: no bits to add
            continue
        scaled = (as_d[c] - F.lit(float(mn))) / F.lit(float(mx - mn))
        codes.append(
            F.coalesce(
                F.least(
                    F.greatest(
                        F.floor(scaled * top).cast("long"), F.lit(0)
                    ),
                    F.lit(top),
                ),
                F.lit(0),
            )
        )
    # the bit interleave itself is the shared Morton helper (the
    # standalone non-versioned twin lives in operators/layout.py)
    from amaxa_spark.operators.layout import zorder_key

    return zorder_key(codes, bits=bits)


def rebucket_versioned(
    spark: SparkSession,
    path: str,
    n_buckets: int,
    base_token: str | None = None,
) -> dict:
    """PARTITION EVOLUTION: change the table's bucket count in one
    chain commit — the layout knob every hash-bucketed design needs
    once data outgrows (or never filled) its original n_buckets. A
    full rewrite by construction (every row's bucket is a pure
    pk-hash mod n_buckets, so changing n moves ~all rows), expressed
    as a re-init FROM THE TABLE'S OWN SNAPSHOT: the logical rows
    (ALTER-added columns materialized, dropped columns shed), the
    skipping/constraint configuration, and the commit chain all carry
    over; stream markers survive like any re-init. Old snapshots
    keep time-traveling with the OLD bucket count — a manifest pins
    its own n_buckets, so readers never mix layouts.

    At 100 TB this is the capacity-planning escape hatch: going from
    256 to 4096 buckets re-shards one bucket's gigabytes into
    executor-sized units without any external tooling."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    # capture the CURRENT head seq with the snapshot: the rewrite's
    # rows come from this snapshot, so a commit landing between here
    # and the re-init claim must fail the rebucket (its rows would
    # silently vanish from the rebucketed table otherwise) — the same
    # stale-input rule every other rewrite verb enforces.
    head = _commit_chain_head(path)
    expect_seq = None if head is None else head[0]
    manifest = _bucket_manifest(path, base_token)
    df = read_versioned_table(spark, path, token=manifest["token"]).drop(
        MERGE_BUCKET_COL
    )
    return write_versioned_table(
        df, path, manifest["pk"], n_buckets=n_buckets,
        # None = inherit the head's configuration (stats/blooms/
        # constraints/file_stats) through write_versioned_table's
        # own re-init inheritance rules
        _expect_head_seq=expect_seq,
    )


def history_versioned(path: str) -> list[dict]:
    """DESCRIBE HISTORY: the chain-ordered commit log of a versioned
    table or database — one summary row per commit (seq, token,
    committed_at where the history record survives retention, live
    bucket/table counts, and which metadata the commit carries). Reads
    only the chain and history JSON — no Spark, no data files."""
    import json

    cdir = os.path.join(path, COMMITS_DIR)
    out = []
    full = None  # rolling reconstruction across delta commits
    for seq_n in _chain_seqs(cdir):
        m = _read_commit_doc(path, seq_n)
        if _DELTA_BASE in m:
            # one forward replay over the whole listing — the lowest
            # retained commit is always full (seq 0, a checkpoint, or
            # a compaction fold point)
            m = (
                _decode_delta_commit(m, full)
                if full is not None and full.get("seq") == m[_DELTA_BASE]
                else _read_commit_full(path, seq_n)
            )
        full = m
        row = {
            "seq": m.get("seq"),
            "token": m.get("token"),
            "kind": m.get("kind"),
        }
        hist = os.path.join(path, HISTORY_DIR, f"{m.get('token')}.json")
        try:
            with open(hist) as f:
                row["committed_at"] = json.load(f).get("committed_at")
        except (FileNotFoundError, ValueError):
            row["committed_at"] = None  # vacuumed history record
        if m.get("kind") == "versioned-db":
            row["tables"] = {
                n: len(t.get("buckets", {}))
                for n, t in m.get("tables", {}).items()
            }
        else:
            row["n_buckets_live"] = len(m.get("buckets", {}))
        for key in ("added_columns", "dropped_columns", "column_map",
                    "dv", "constraints", "clustered_by", "streams"):
            if m.get(key):
                row[key] = sorted(m[key]) if not isinstance(
                    m[key], str
                ) else m[key]
        out.append(row)
    return out


def restore_versioned(path: str, token: str) -> dict:
    """RESTORE — roll the table back to any retained snapshot as a
    METADATA-ONLY commit (Delta's RESTORE): the new head re-publishes
    the old token's bucket map, schema metadata, stats, and
    constraints under a fresh seq — zero data movement, and the
    rolled-back-over commits stay time-travelable (a restore is an
    ordinary commit on the chain, not history surgery). Exactly-once
    STREAM MARKERS are the one thing carried from the CURRENT head
    instead: regressing them would make a live stream replay batches
    onto the restored baseline.

    Raises if any generation the old snapshot references was already
    vacuumed (the restore would publish dangling buckets) — restores
    reach exactly as far back as the retention policy keeps."""
    return _restore(path, token, db=False)


def restore_versioned_db(path: str, token: str) -> dict:
    """The db twin of :func:`restore_versioned`: ONE metadata-only
    commit rolls every table back to the same retained transaction —
    the cross-table-consistent rollback (per-table restores taken
    separately could tear a fact from its dims)."""
    return _restore(path, token, db=True)


def _restore(path: str, token: str, db: bool) -> dict:
    try:
        target = _layout_manifest(path, token, db)
    except FileNotFoundError:
        raise ValueError(
            f"{path}: unknown snapshot {token!r} (never committed, or "
            "its history record was vacuumed — only retained snapshots "
            "restore)"
        ) from None
    missing = sorted(
        {
            os.path.join(name, gen)
            for name, t in _layout_tables(target).items()
            for b, gen in t["buckets"].items()
            if not os.path.isdir(
                os.path.join(
                    _table_root(path, name), gen, f"{MERGE_BUCKET_COL}={b}"
                )
            )
        }
    )
    if missing:
        raise ValueError(
            f"{path}: cannot restore to {token!r}: generation(s) "
            f"{missing} were vacuumed; only retained snapshots restore"
        )

    def edit(head: dict, root: str) -> dict:
        out = {k: v for k, v in target.items() if k != "streams"}
        if head.get("streams"):
            out["streams"] = dict(head["streams"])
        return out

    return _commit_meta_edit(path, edit, db=db)


def clone_versioned(src: str, dst: str, token: str | None = None) -> dict:
    """SHALLOW CLONE — publish an independent table at ``dst`` whose
    initial state is ``src``'s snapshot (head, or any retained token),
    sharing every data byte via hard links: O(files) metadata work
    regardless of table size, the dev/test-branch primitive (clone
    prod, run destructive experiments, throw away). The clone has its
    OWN commit chain from seq 0 — merges/deletes/ALTERs on either side
    never touch the other, and a vacuum on either side only unlinks
    its own directory entries (shared inodes survive until both sides
    drop them; on an object store the links map to server-side
    copies). Bloom and file-stats sidecars link too, so skipping works
    on the clone from the first read. Stream markers do NOT carry: the
    clone is a new table — a checkpointed stream pointed at it must
    replay, not silently skip.

    Hard links need ``dst`` on the same filesystem as ``src``; a
    cross-filesystem clone (EXDEV) falls back to ``shutil.copy2`` per
    file — still correct, no longer zero-copy. Any failure mid-clone
    removes the partially-built ``dst`` tree before re-raising, so a
    retry to the same path is not blocked by the
    ``makedirs(exist_ok=False)`` guard."""
    import shutil
    import uuid

    def _link_or_copy(s: str, d: str) -> None:
        try:
            os.link(s, d)
        except OSError:
            # EXDEV (cross-device), or a store that lacks hard links:
            # degrade to a real copy — correctness over zero-copy
            shutil.copy2(s, d)

    manifest = _bucket_manifest(src, token)
    os.makedirs(dst, exist_ok=False)
    try:
        for b, gen in sorted(manifest["buckets"].items()):
            sdir = os.path.join(src, gen, f"{MERGE_BUCKET_COL}={b}")
            ddir = os.path.join(dst, gen, f"{MERGE_BUCKET_COL}={b}")
            os.makedirs(ddir, exist_ok=True)
            for f in os.listdir(sdir):
                if f.endswith(".parquet") and not f.startswith("."):
                    _link_or_copy(
                        os.path.join(sdir, f), os.path.join(ddir, f)
                    )
            # generation-level sidecars (blooms, file stats) ride
            # along so the clone prunes from its first read
            sgen = os.path.join(src, gen)
            dgen = os.path.join(dst, gen)
            for f in os.listdir(sgen):
                full = os.path.join(sgen, f)
                if (
                    os.path.isfile(full)
                    and f.startswith(("_bloom-", "_filestats"))
                    and not os.path.exists(os.path.join(dgen, f))
                ):
                    _link_or_copy(full, os.path.join(dgen, f))
        # deletion-vector and UPDATE-overlay sidecar generations are
        # part of the snapshot's read set exactly like data buckets —
        # without them the clone would resurrect merge-on-read
        # deletes or lose merge-on-read updates
        for sidecar in (_dv_map(manifest), _patch_map(manifest)):
            for b, gen in sorted(sidecar.items()):
                sdir = os.path.join(src, gen, f"{MERGE_BUCKET_COL}={b}")
                ddir = os.path.join(dst, gen, f"{MERGE_BUCKET_COL}={b}")
                os.makedirs(ddir, exist_ok=True)
                for f in os.listdir(sdir):
                    if f.endswith(".parquet") and not f.startswith("."):
                        _link_or_copy(
                            os.path.join(sdir, f), os.path.join(ddir, f)
                        )
    except BaseException:
        # unwind the partial tree: nothing was published yet, so the
        # only trace of the failed clone must not block a retry
        shutil.rmtree(dst, ignore_errors=True)
        raise
    new_manifest = {
        **{
            k: v
            for k, v in manifest.items()
            if k not in ("committed_at", "streams")
        },
        "token": uuid.uuid4().hex[:12],
        "seq": 0,
    }
    _claim_commit(dst, 0, new_manifest)
    _publish_manifest(dst, new_manifest)
    return new_manifest


def _manifest_gens(manifest: dict):
    """The generation ids a manifest pins, in either layout:
    ``<table>/gen-*`` (plain ``gen-*`` for a single table). DV and
    UPDATE-overlay sidecar generations are live exactly like data
    generations."""
    for name, t in _layout_tables(manifest).items():
        for m in (t["buckets"], t.get("dv") or {}, t.get("patch") or {}):
            for gen in m.values():
                yield os.path.join(name, gen)


def _versioned_retention(path: str, keep_last: int):
    """Retention for both versioned layouts: ``(retained tokens, live
    generation ids)``.

    The advisory history feeds the keep_last window; the CAS chain
    head is ALWAYS added on top — it is the authoritative current
    state and protects a commit whose history record never landed
    (writer died between the claim and the publish)."""
    import json

    kept = list_generations(path)
    retained = {g["token"] for g in kept[:keep_last]}
    retained |= {g["token"] for g in kept if g["current"]}
    hist_dir = os.path.join(path, HISTORY_DIR)
    os.makedirs(hist_dir, exist_ok=True)  # first commit may predate it
    live: set[str] = set()
    for token in retained:
        try:
            with open(os.path.join(hist_dir, f"{token}.json")) as f:
                live |= set(_manifest_gens(json.load(f)))
        except FileNotFoundError:
            pass  # advisory record missing — the head below covers it
    head = _commit_chain_head(path)
    if head is not None:
        retained.add(head[1]["token"])
        live |= set(_manifest_gens(head[1]))
    return retained, live


def _prune_history(path: str, retained: set[str]) -> None:
    """Delete advisory history records for unretained tokens. The CAS
    COMMIT CHAIN is NOT pruned here: naively deleting commit files
    below the head would open seq holes that a slow stale writer could
    claim into — its transaction would link successfully yet never
    become the head (a silent lost update). Chain pruning is
    :func:`compact_commit_chain`'s job, which closes that hazard with
    the FLOOR protocol (floor advanced durably before any deletion;
    every claim re-checks the floor after its link)."""
    hist_dir = os.path.join(path, HISTORY_DIR)
    for entry in os.listdir(hist_dir):
        tok = entry[: -len(".json")] if entry.endswith(".json") else None
        if tok and tok not in retained:
            os.remove(os.path.join(hist_dir, entry))


def _old_enough(full: str, now: float, min_age_s: float) -> bool:
    try:
        return min_age_s <= 0 or now - os.path.getmtime(full) >= min_age_s
    except FileNotFoundError:
        return False


def vacuum_versioned(
    path: str, keep_last: int = 1, min_age_s: float = 0.0,
    dry_run: bool = False,
) -> list[str]:
    """Reclaim generation directories referenced by NO retained
    manifest (crashed merges, aged-out snapshots). Keeps the
    ``keep_last`` newest generations plus the current one; prunes
    aged history records with their data. Returns removed paths.

    ``dry_run=True`` returns the directories that WOULD be removed
    and deletes nothing — history records included (the operator's
    pre-flight for an irreversible cleanup).

    Concurrency contract: the chain head is always protected (see
    :func:`_versioned_retention`), and ``min_age_s`` is the guard for
    running vacuum while writers are live (Delta's retention-window
    rule): generation directories younger than it are never deleted,
    so an in-flight or just-committed merge's files are untouchable.
    Set it above your longest merge duration (the 0 default preserves
    stop-the-world cleanup semantics). Commit files are never deleted
    (:func:`_prune_history` explains why)."""
    return _vacuum_tables(path, keep_last, min_age_s, dry_run, [""])


def _vacuum_tables(
    path: str, keep_last: int, min_age_s: float, dry_run: bool,
    names: list[str],
) -> list[str]:
    """The vacuum of both layouts over the table directories ``names``
    (``[""]``: a single table is the one table directory at the root).
    Generation ids are ``<table>/gen-*`` (plain ``gen-*`` for a single
    table), both in the live set and in the returned list."""
    import shutil
    import time

    retained, live = _versioned_retention(path, keep_last)
    now = time.time()
    removed = []
    for name in names:
        tdir = _table_root(path, name)
        for entry in os.listdir(tdir):
            gid = os.path.join(name, entry)
            if not entry.startswith("gen-") or gid in live:
                continue
            full = os.path.join(tdir, entry)
            if not _old_enough(full, now, min_age_s):
                continue  # young enough to be an in-flight writer's
            if not dry_run:
                shutil.rmtree(full)
            removed.append(gid)
    if not dry_run:
        _prune_history(path, retained)
    return removed


# ---------------------------------------------------------------------------
# Multi-table transactions over the versioned layout — the part even a
# single-table Delta does not give you: ONE commit that moves several
# tables together (fact + dim, documents + embeddings), so a reader
# can never observe table A from transaction N next to table B from
# transaction N-1. The mechanics are the single-table layout lifted
# one level: each table keeps its generation directories under
# `<path>/<table>/gen-<token>/<bucket>=N/`, but the ONLY commit record
# is the database-level CAS chain `<path>/.commits/<seq>.json`, whose
# manifest maps table -> {pk, n_buckets, buckets}. The same claim /
# rebase / conflict rules apply, with bucket disjointness evaluated
# PER TABLE across the whole transaction.


def write_versioned_db(
    spark: SparkSession,
    path: str,
    tables: dict[str, DataFrame],
    pks: dict[str, str],
    n_buckets: int | dict[str, int] = 64,
    write_options: dict[str, dict] | None = None,
    stats_cols: dict[str, list[str]] | None = None,
    bloom_cols: dict[str, list[str]] | None = None,
    constraints: dict[str, dict[str, str]] | None = None,
    file_stats: dict[str, bool] | None = None,
) -> dict:
    """Initial (or full-rewrite) commit of a multi-table versioned
    database: every table's data lands under a fresh shared-token
    generation, then ONE chain commit publishes them all — all tables
    appear together or not at all. ``write_options`` maps table name
    to per-table DataFrameWriter options (same contract as
    :func:`atomic_load_publish` — advisory parquet tuning like
    ``maxRecordsPerFile`` must not silently no-op on this layout).

    ``stats_cols`` maps table name to the columns that get per-bucket
    data-skipping stats — the db twin of the single-table opt-in:
    maintained by every transactional merge/delete/CDC-apply/optimize,
    consumed by ``read_versioned_db(prune=/pk_in=)``. A re-init over
    an existing stats-enabled database inherits each table's setting
    unless the caller passes its own (same no-silent-regression rule
    as the single-table twin). One body serves both layouts
    (:func:`_write_tables`)."""
    return _write_tables(
        spark, path, tables, pks, n_buckets, write_options, stats_cols,
        bloom_cols, constraints, file_stats,
    )


def _db_manifest(path: str, token: str | None = None) -> dict:
    return _layout_manifest(path, token, db=True)


def read_versioned_db(
    spark: SparkSession,
    path: str,
    table: str,
    token: str | None = None,
    prune: list[tuple] | None = None,
    pk_in: list | None = None,
    eq: list[tuple] | None = None,
    as_of=None,
) -> DataFrame:
    """Open one table of the committed database snapshot (or any
    retained transaction by token, or ``as_of`` a wall-clock time —
    :func:`token_as_of` semantics) — a consistent cross-table
    point-in-time view: every table read through the same token came
    from the same transaction.

    ``prune`` / ``pk_in`` are the single-table reader's data-skipping
    parameters, applied against THIS table's manifest entry (stats
    opt-in via ``write_versioned_db(stats_cols=...)``); both are
    exact — the predicate is re-applied to the surviving rows."""
    return _read_table(spark, path, table, True, token, as_of, prune, pk_in, eq)


def alter_versioned_db_add_columns(
    path: str,
    table: str,
    columns: dict[str, tuple[str, object]],
    spark: SparkSession | None = None,
) -> dict:
    """Schema evolution for ONE table of the transactional layout —
    the db twin of :func:`alter_versioned_add_columns`, with identical
    semantics: a METADATA-ONLY chain commit records
    ``name -> (type, default)`` under the table's manifest entry;
    readers materialize the columns at scan time, the next merge that
    rewrites a bucket persists them physically, pre-alter transactions
    time-travel with the old schema, and validation (type parse,
    redefinition, reserved name, physical collision — session schema
    or a direct parquet footer) happens before anything commits.
    Other tables in the database are untouched; the ALTER is one
    transaction on the shared chain."""
    return _commit_meta_edit(
        path,
        _add_columns_edit(
            columns, repair="write_versioned_db (at the database root)"
        ),
        table,
    )


def alter_versioned_db_add_constraint(
    spark: SparkSession, path: str, table: str, name: str, expr: str
) -> dict:
    """Add a CHECK constraint to ONE table of the transactional
    layout — the db twin of :func:`alter_versioned_add_constraint`,
    identical semantics: existing rows validate first (re-validated
    inside the claim loop whenever a lost race reveals new data for
    this table), then a metadata-only transaction records it; every
    later data-writing transaction validates this table's written
    rows before committing."""
    return _add_constraint(spark, path, table, name, expr)


def alter_versioned_db_drop_constraint(path: str, table: str, name: str) -> dict:
    """Drop a CHECK constraint from one table — metadata-only
    transaction; raises if the table or constraint does not exist."""
    return _commit_meta_edit(path, _drop_constraint_edit(name), table)


def merge_into_versioned_db(
    spark: SparkSession,
    path: str,
    updates: dict[str, DataFrame],
    set_cols: dict[str, list[str]],
    base_token: str | None = None,
    extra_meta: dict | None = None,
    not_matched: str = "ignore",
) -> dict:
    """Transactional MERGE across tables: every table's affected
    buckets are rewritten under ONE shared-token generation, then a
    single chain commit publishes the whole transaction — a crash
    before the claim leaves only invisible orphans in every table, and
    readers move from the old transaction to the new one atomically.

    Concurrency follows the single-table rules, evaluated across the
    transaction: a lost claim race rebases when EVERY table's affected
    buckets are untouched by the intervening commits, and raises
    :class:`ConcurrentMergeError` if ANY overlaps (partial rebase
    would tear the transaction).

    ``not_matched`` ("ignore" default / "insert") and ``extra_meta``
    (committed atomically with the transaction; the streaming sink's
    progress-marker hook, monotonic per stream) mirror the
    single-table MERGE."""
    _check_not_matched(not_matched)
    manifest = _db_manifest(path, base_token)
    # validate the whole transaction BEFORE writing any generation —
    # a typo'd table name must not leave earlier tables' files behind
    # as orphans mid-loop
    _require_tables(path, manifest, updates)
    for name in updates:
        if name not in set_cols:
            raise ValueError(
                f"{path}: updates for table {name!r} have no set_cols entry"
            )
    token = _new_token()
    writes = {
        name: _merge_table_body(
            spark, os.path.join(path, name), manifest["tables"][name],
            upd, set_cols[name], not_matched, f"gen-{token}",
        )
        for name, upd in updates.items()
    }
    return _commit_dml(
        spark, path, manifest, writes, token, extra_meta, adds_rows=True
    )


def optimize_versioned_db(
    spark: SparkSession,
    path: str,
    max_files: int = 1,
    base_token: str | None = None,
    cluster_by: dict[str, list[str]] | None = None,
    zorder_by: dict[str, list[str]] | None = None,
    files_per_bucket: int | dict[str, int] = 1,
    min_dv_frac: float = 0.0,
) -> tuple[dict, list[str]]:
    """Small-file compaction for the transactional layout — the db
    twin of :func:`optimize_versioned` (including its ``min_dv_frac``
    merge-on-read materialization floor), at FULL parity: per-table
    ``cluster_by`` / ``zorder_by`` turn a table's run into a
    clustering rewrite (every live bucket, rows sorted), and
    ``files_per_bucket`` range-splits its buckets into k sorted
    key-disjoint files (the layout the file-stats tier needs) — while
    plain tables still compact by the ``max_files`` fragmentation
    rule. Everything rewrites under ONE shared-token generation and
    commits as ONE transaction; per-table clustering labels land in a
    db-level ``clustering`` map. Returns ``(manifest,
    ["table/bucket", ...])``; concurrency follows the transactional
    MERGE rules."""
    if max_files < 1:
        raise ValueError(f"max_files must be >= 1, got {max_files}")
    cluster_by = cluster_by or {}
    zorder_by = zorder_by or {}
    both = set(cluster_by) & set(zorder_by)
    if both:
        raise ValueError(
            f"cluster_by and zorder_by are mutually exclusive per "
            f"table (both given for {sorted(both)})"
        )
    manifest = _db_manifest(path, base_token)
    # a typo'd table key must fail loudly — silently degrading to
    # plain compaction would let the caller believe the table was
    # clustered (same rule as db_manifest_to_sql's prune/eq keys)
    _require_tables(
        path, manifest,
        sorted(
            set(cluster_by) | set(zorder_by)
            | (set(files_per_bucket) if isinstance(files_per_bucket, dict) else set())
        ),
    )
    fpb = {
        name: (
            files_per_bucket.get(name, 1)
            if isinstance(files_per_bucket, dict)
            else files_per_bucket
        )
        for name in manifest["tables"]
    }
    # every table validates BEFORE any generation is written
    for name, k in fpb.items():
        if k < 1:
            raise ValueError(f"{name}: files_per_bucket must be >= 1")
        if k > 1 and not (cluster_by.get(name) or zorder_by.get(name)):
            raise ValueError(
                f"{name}: files_per_bucket > 1 requires cluster_by or "
                "zorder_by (splitting an unsorted bucket multiplies "
                "files without making any file's stats selective)"
            )
    token = _new_token()
    writes = {
        name: _optimize_table_body(
            spark, os.path.join(path, name), t, max_files,
            cluster_by.get(name), zorder_by.get(name), fpb[name],
            min_dv_frac, f"gen-{token}",
        )
        for name, t in manifest["tables"].items()
    }
    writes = {n: w for n, w in writes.items() if w is not None}
    if not writes:
        return manifest, []
    clustering = {
        name: {"by": list(cluster_by[name]), "kind": "linear"}
        if cluster_by.get(name)
        else {"by": list(zorder_by[name]), "kind": "zorder"}
        for name in writes
        if cluster_by.get(name) or zorder_by.get(name)
    }
    new_manifest = _commit_dml(
        spark, path, manifest, writes, token,
        {"clustering": clustering} if clustering else None,
    )
    compacted = [
        f"{name}/{b}"
        for name, w in writes.items()
        for b in sorted(w.buckets, key=int)
    ]
    return new_manifest, compacted


def vacuum_versioned_db(
    path: str, keep_last: int = 1, min_age_s: float = 0.0,
    dry_run: bool = False,
) -> list[str]:
    """Reclaim per-table generation directories referenced by NO
    retained transaction; same retention contract as
    :func:`vacuum_versioned` (chain head always protected, history is
    advisory, ``min_age_s`` guards live writers, commit files are
    never deleted; ``dry_run=True`` lists without deleting). Table
    directories are discovered ON DISK, so generations of a table
    that no retained transaction mentions any more (dropped by a full
    rewrite, or a pre-claim crash of a brand new table) are reclaimed
    too, not leaked."""
    return _vacuum_tables(
        path, keep_last, min_age_s, dry_run,
        [
            name for name in os.listdir(path)
            if name not in (COMMITS_DIR, HISTORY_DIR)
            and os.path.isdir(os.path.join(path, name))
        ],
    )
