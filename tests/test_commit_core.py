"""The versioned commit core: one CAS loop and one DML driver serve
both layouts, a single table being the one-table transaction
``{"": manifest}``; so does one body per verb outside it (init,
export, vacuum, diff, external SQL, replicate). These tests pin what
that promises:

- every verb gives the same rows, the same per-table manifest and the
  same result on a single table and on a one-table database built
  from the same frame (an ALTER-added column with a default
  included);
- no committed manifest carries a row count that is false for its
  snapshot;
- every rewriting verb (MERGE, DELETE, UPDATE, CDC-apply, in both
  modes) writes the same files per bucket, DV sidecars and overlays
  included, whatever the session's split and shuffle widths;
- no verb starts more Spark jobs than its budget;
- the conflict rules are one matrix: a stale ``base_token`` rebases
  past a disjoint-bucket commit (both writes visible) and raises
  ``ConcurrentMergeError`` on an overlapping one (head unmoved), for
  every data verb in both layouts;
- MERGE keys on the table's own pk: a caller naming another column
  is refused, through the verb and the streaming sink alike.
"""

import contextlib
import os
import shutil

import duckdb
import pytest
from pyspark.sql import functions as F

from amaxa_spark.sources import catalog as C
from amaxa_spark.streaming.merge_stream import upsert_batch
from test_manifest_reads import _jobs

N_BUCKETS = 4


def _frame(spark, n=40):
    # one task -> one file per bucket, so a plain OPTIMIZE has only
    # the candidates the scenario makes
    return (
        spark.range(n)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 5).alias("g"),
            (F.col("id") * 1.0).alias("v"),
        )
        .coalesce(1)
    )


def _head(root, db):
    return C._db_manifest(root) if db else C._bucket_manifest(root)


def _entry(root, db):
    m = _head(root, db)
    return m["tables"]["t"] if db else m


def _rows(spark, root, db):
    df = (
        C.read_versioned_db(spark, root, "t")
        if db
        else C.read_versioned_table(spark, root)
    ).drop(C.MERGE_BUCKET_COL)
    rows = df.select(*sorted(df.columns)).collect()
    return sorted((tuple(r) for r in rows), key=repr)


def _write(spark, root, db, df=None, **kw):
    df = _frame(spark) if df is None else df
    if db:
        C.write_versioned_db(
            spark, root, {"t": df}, {"t": "k"}, n_buckets=N_BUCKETS,
            **{k: {"t": v} for k, v in kw.items()},
        )
    else:
        C.write_versioned_table(df, root, "k", N_BUCKETS, **kw)


# ---------------------------------------------------------------------------
# one verb, two layouts: same rows, same per-table manifest


def _layout_verbs(spark):
    upd = spark.createDataFrame(
        [(1, 50.0), (3, 70.0), (1000, 9.0)], "k long, v double"
    )
    keys = spark.createDataFrame([(2,), (5,), (999,)], "k long")
    feed = spark.createDataFrame(
        [
            (1, 1, 11.0, 7, "update_postimage"),
            (2, None, None, None, "delete"),
            (1001, 4, 4.5, None, "insert"),
        ],
        "k long, g long, v double, c int, _change_type string",
    )

    def update(mode):
        return (
            lambda p: C.update_versioned(
                spark, p, {"v": "v + 100"}, where="g = 2", mode=mode
            ),
            lambda p: C.update_versioned_db(
                spark, p, {"t": {"set": {"v": "v + 100"}, "where": "g = 2"}},
                mode=mode,
            ),
        )

    def delete(mode):
        return (
            lambda p: C.delete_from_versioned(spark, p, keys, "k", mode=mode),
            lambda p: C.delete_from_versioned_db(
                spark, p, {"t": keys}, mode=mode
            ),
        )

    def merge(not_matched):
        return (
            lambda p: C.merge_into_versioned(
                spark, p, upd, "k", ["v"], not_matched=not_matched
            ),
            lambda p: C.merge_into_versioned_db(
                spark, p, {"t": upd}, {"t": ["v"]}, not_matched=not_matched
            ),
        )

    def optimize(**kw):
        db_kw = {
            k: ({"t": v} if k in ("cluster_by", "zorder_by") else v)
            for k, v in kw.items()
        }
        return (
            lambda p: C.optimize_versioned(spark, p, **kw)[0],
            lambda p: C.optimize_versioned_db(spark, p, **db_kw)[0],
        )

    def both(fn):
        return (lambda p: fn(p, False), lambda p: fn(p, True))

    def merge_upd(p, db):
        merge("insert")[db](p)

    def reinit(p, db):
        # the set-up opted into blooms and file stats too; a stream
        # marker and a second ALTER land, then a re-init that passes no
        # option at all must inherit every one, carry the marker and
        # keep both added columns (its frame has neither)
        if db:
            C.merge_into_versioned_db(
                spark, p, {"t": upd.limit(0)}, {"t": ["v"]},
                extra_meta={"streams": {"s1": 4}},
            )
            C.alter_versioned_db_add_columns(p, "t", {"c2": ("string", "x")})
        else:
            C.merge_into_versioned(
                spark, p, upd.limit(0), "k", ["v"],
                extra_meta={"streams": {"s1": 4}},
            )
            C.alter_versioned_add_columns(p, {"c2": ("string", "x")})
        _write(spark, p, db)
        return _head(p, db).get("streams")

    def export(p, db):
        # materialized (ALTER-added column and DV from the set-up),
        # then linked after a re-init that carries the column
        # physically
        got = []
        for n, df in enumerate((None, _frame(spark).withColumn("c", F.lit(7)))):
            if df is not None:
                _write(spark, p, db, df=df)
            out = f"{p}-export{n}"
            if db:
                rec = C.export_db_snapshot(p, out, spark=spark)
                rec, out = rec["tables"]["t"], os.path.join(out, "t")
            else:
                rec = C.export_snapshot(p, out, spark=spark)
            got.append((rec["mode"], _frame_rows(spark.read.parquet(out))))
        return got

    def diff_replicate_vacuum(p, db):
        # a byte copy of the snapshot is a replica at t0; after a
        # MERGE, the diff t0 -> head replayed onto it gives the head;
        # vacuum then reclaims a crashed writer's orphan generation
        prefix = "t/" if db else ""
        os.makedirs(os.path.join(p, prefix, "gen-deadbeef", "__mb=0"))
        replica = f"{p}-replica"
        shutil.copytree(p, replica)
        t0 = _head(p, db)["token"]
        merge_upd(p, db)
        if db:
            feed = C.diff_versioned_db(spark, p, "t", t0)
            C.replicate_versioned_db(spark, p, replica, t0)
        else:
            feed = C.diff_versioned(spark, p, t0)
            C.replicate_versioned(spark, p, replica, t0)
        assert _rows(spark, replica, db) == _rows(spark, p, db)
        vac = C.vacuum_versioned_db if db else C.vacuum_versioned
        dry = vac(p, dry_run=True)
        real = vac(p)
        assert prefix + "gen-deadbeef" in dry
        assert sorted(dry) == sorted(real) and vac(p, dry_run=True) == []
        return _frame_rows(feed), sorted(g[len(prefix):] for g in real)

    def sql(p, db):
        prune, eq = [("v", 0.0, 20.0)], [("g", 2)]
        if db:
            q = C.db_manifest_to_sql(
                p, ["t"], prune={"t": prune}, eq={"t": eq}, spark=spark
            )["t"]
        else:
            q = C.manifest_to_sql(p, prune=prune, eq=eq, spark=spark)
        rel = duckdb.sql(q)
        return sorted(rel.columns), sorted(map(repr, rel.fetchall()))

    return {
        "init": both(reinit),
        "export": both(export),
        "manifest_to_sql": both(sql),
        "diff_replicate_vacuum": both(diff_replicate_vacuum),
        "merge_ignore": merge("ignore"),
        "merge_insert": merge("insert"),
        "delete_rewrite": delete("rewrite"),
        "delete_dv": delete("dv"),
        "update_rewrite": update("rewrite"),
        "update_dv": update("dv"),
        "apply_changes": (
            lambda p: C.apply_changes_versioned(spark, p, feed),
            lambda p: C.apply_changes_versioned_db(spark, p, {"t": feed}),
        ),
        # the DV delete in the set-up leaves DV'd buckets to compact
        "optimize": optimize(),
        "optimize_cluster_by": optimize(cluster_by=["v"]),
        "optimize_zorder_by": optimize(zorder_by=["g", "v"]),
        "optimize_min_dv_frac": optimize(max_files=10**6, min_dv_frac=0.05),
    }


# verbs whose own result (not only the table they leave) must match
RESULT_VERBS = ["init", "export", "manifest_to_sql", "diff_replicate_vacuum"]

LAYOUT_VERBS = RESULT_VERBS + [
    "merge_ignore", "merge_insert", "delete_rewrite", "delete_dv",
    "update_rewrite", "update_dv", "apply_changes", "optimize",
    "optimize_cluster_by", "optimize_zorder_by", "optimize_min_dv_frac",
]


@pytest.mark.parametrize("verb", LAYOUT_VERBS)
def test_layouts_match(spark, tmp_path, verb):
    single, db = _layout_verbs(spark)[verb]
    dv_keys = spark.createDataFrame([(7,), (8,), (12,)], "k long")
    results = []
    for is_db, run in ((False, single), (True, db)):
        root = str(tmp_path / ("db" if is_db else "t"))
        extra = {"bloom_cols": ["g"], "file_stats": True} if verb == "init" else {}
        _write(spark, root, is_db, stats_cols=["v"],
               constraints={"v_big": "v > -1000"}, **extra)
        if is_db:
            C.alter_versioned_db_add_columns(root, "t", {"c": ("int", 7)})
            C.delete_from_versioned_db(spark, root, {"t": dv_keys}, mode="dv")
        else:
            C.alter_versioned_add_columns(root, {"c": ("int", 7)})
            C.delete_from_versioned(spark, root, dv_keys, "k", mode="dv")
        results.append(run(root))
    t, d = str(tmp_path / "t"), str(tmp_path / "db")
    if verb in RESULT_VERBS:
        assert results[0] == results[1]
    assert _rows(spark, t, False) == _rows(spark, d, True)
    et, ed = _entry(t, False), _entry(d, True)
    assert sorted(et["buckets"]) == sorted(ed["buckets"])
    for key in ("dv", "patch"):
        assert sorted(et.get(key) or {}) == sorted(ed.get(key) or {}), key
    for key in ("bucket_stats", "schema_json", "constraints",
                "added_columns", "stats_cols", "bloom_cols", "file_stats",
                "rows"):
        assert et.get(key) == ed.get(key), key
    assert _head(t, False).get("streams") == _head(d, True).get("streams")
    if verb == "init":
        assert results[0] == {"s1": 4}
        assert et["bloom_cols"] == ["g"] and et["file_stats"] is True
        assert et["stats_cols"] == ["v"] and "v_big" in et["constraints"]
        assert sorted(et["added_columns"]) == ["c", "c2"]
        assert et["rows"] == len(_rows(spark, t, False))


def _frame_rows(df):
    df = df.drop(C.MERGE_BUCKET_COL)
    rows = df.select(*sorted(df.columns)).collect()
    return sorted(df.columns), sorted(map(repr, rows))


@pytest.mark.parametrize("db", [False, True], ids=["table", "db"])
def test_row_count_is_true_for_its_snapshot(spark, tmp_path, db):
    """The init records the row count it observed on its write; a
    later data commit must not carry it on once it is false."""
    root = str(tmp_path / "t")
    _write(spark, root, db, df=_frame(spark, 10))
    assert _entry(root, db)["rows"] == 10
    ins = spark.createDataFrame(
        [(k, 1.0) for k in range(100, 105)], "k long, v double"
    )
    if db:
        C.merge_into_versioned_db(
            spark, root, {"t": ins}, {"t": ["v"]}, not_matched="insert"
        )
    else:
        C.merge_into_versioned(spark, root, ins, "k", ["v"], not_matched="insert")
    n = len(_rows(spark, root, db))
    assert n == 15
    assert _entry(root, db).get("rows", n) == n


def _new_files_per_bucket(root, base, m):
    """Part files per bucket of every generation commit ``m`` wrote
    over ``base``: rewritten buckets, DV sidecars and UPDATE overlays."""
    out = {}
    for key in ("buckets", "dv", "patch"):
        for b, g in sorted((m.get(key) or {}).items()):
            if g != (base.get(key) or {}).get(b):
                leaf = os.path.join(root, g, f"{C.MERGE_BUCKET_COL}={b}")
                out[key, b] = len(
                    [f for f in os.listdir(leaf) if f.endswith(".parquet")]
                )
    return out


def _files_per_bucket_under_two_confs(spark, tmp_path, run):
    """Run ``run(root)`` on two byte-identical copies of a table with
    four part files per bucket: one session packs the small files into
    few splits and shuffles into 1 partition, the other opens each
    file as its own split and shuffles into 7. Returns the files per
    bucket each run wrote."""
    base = str(tmp_path / "base")
    C.write_versioned_table(_frame(spark).repartition(4), base, "k", N_BUCKETS)
    per = []
    for name, conf in (
        ("a", {"files.openCostInBytes": "1", "shuffle.partitions": "1"}),
        ("b", {"files.openCostInBytes": str(64 << 20), "shuffle.partitions": "7"}),
    ):
        root = str(tmp_path / name)
        shutil.copytree(base, root)
        with _sql_conf(spark, conf):
            m = run(root)
        per.append(_new_files_per_bucket(root, C._bucket_manifest(base), m))
    return per


@contextlib.contextmanager
def _sql_conf(spark, conf):
    """Set ``spark.sql.<key>`` values for the block, then restore."""
    prev = {k: spark.conf.get(f"spark.sql.{k}", None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(f"spark.sql.{k}", v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(f"spark.sql.{k}")
            else:
                spark.conf.set(f"spark.sql.{k}", v)


def _rewriting_verbs(spark):
    upd = spark.createDataFrame(
        [(1, 5.0), (2, 6.0), (3, 7.0), (500, 8.0)], "k long, v double"
    )
    keys = spark.createDataFrame([(k,) for k in (1, 2, 3, 6, 7, 500)], "k long")
    feed = spark.createDataFrame(
        [
            (1, 1, 11.0, "update_postimage"),
            (2, None, None, "delete"),
            (3, None, None, "delete"),
            (6, 1, 6.5, "update_postimage"),
            (1001, 4, 4.5, "insert"),
        ],
        "k long, g long, v double, _change_type string",
    )
    return {
        "merge_insert": lambda p: C.merge_into_versioned(
            spark, p, upd, "k", ["v"], not_matched="insert"
        ),
        "delete_rewrite": lambda p: C.delete_from_versioned(spark, p, keys, "k"),
        "delete_dv": lambda p: C.delete_from_versioned(
            spark, p, keys, "k", mode="dv"
        ),
        "update_rewrite": lambda p: C.update_versioned(
            spark, p, {"v": "v + 100"}, where="g = 2"
        ),
        "update_dv": lambda p: C.update_versioned(
            spark, p, {"v": "v + 100"}, where="g = 2", mode="dv"
        ),
        "apply_changes": lambda p: C.apply_changes_versioned(spark, p, feed),
    }


@pytest.mark.parametrize(
    "verb",
    ["merge_insert", "delete_rewrite", "delete_dv", "update_rewrite",
     "update_dv", "apply_changes"],
)
def test_files_per_bucket_do_not_depend_on_scan_splits(spark, tmp_path, verb):
    """Every rewriting verb, in both modes where ``mode`` exists,
    writes the same files per bucket on two byte-identical copies
    whatever the sessions' split and shuffle widths: one file per
    written bucket, data files, DV sidecars and UPDATE overlays
    alike."""
    per = _files_per_bucket_under_two_confs(
        spark, tmp_path, _rewriting_verbs(spark)[verb]
    )
    assert len(per[0]) > 1 and per[0] == per[1]
    assert set(per[0].values()) == {1}


# Spark jobs each verb starts on a plain 4-bucket table, at the test
# session's conf (AQE off, 2 shuffle partitions; set for the call, so
# the opt-in production-conf tier checks the same figures), measured
# on the code before the writers were shared. A verb whose job count
# rises fails here.
JOB_BUDGET = {
    "merge_ignore": 2,
    "merge_insert": 3,
    "delete_rewrite": 3,
    "delete_dv": 3,
    "update_rewrite": 2,
    "update_dv": 3,
    "apply_changes": 5,
}


@pytest.mark.parametrize("layout", ["table", "db"])
@pytest.mark.parametrize("verb", sorted(JOB_BUDGET))
def test_job_budget(spark, tmp_path, verb, layout):
    db = layout == "db"
    feed = spark.createDataFrame(
        [
            (1, 1, 11.0, "update_postimage"),
            (2, None, None, "delete"),
            (1001, 4, 4.5, "insert"),
        ],
        "k long, g long, v double, _change_type string",
    )
    verbs = {
        **_layout_verbs(spark),
        "apply_changes": (
            lambda p: C.apply_changes_versioned(spark, p, feed),
            lambda p: C.apply_changes_versioned_db(spark, p, {"t": feed}),
        ),
    }
    root = str(tmp_path / layout)
    _write(spark, root, db)
    with _sql_conf(
        spark, {"adaptive.enabled": "false", "shuffle.partitions": "2"}
    ):
        n, _ = _jobs(spark, lambda: verbs[verb][db](root))
    assert n <= JOB_BUDGET[verb], (verb, layout, n)


def test_optimize_materializes_added_columns(spark, tmp_path):
    """The shared OPTIMIZE body fills ALTER-added columns, like a
    MERGE rewrite does, in both layouts: the compacted files carry
    the default physically."""
    import os

    import pyarrow.parquet as pq

    for is_db in (False, True):
        root = str(tmp_path / ("db" if is_db else "t"))
        _write(spark, root, is_db)
        if is_db:
            C.alter_versioned_db_add_columns(root, "t", {"c": ("int", 7)})
            C.optimize_versioned_db(spark, root, cluster_by={"t": ["v"]})
        else:
            C.alter_versioned_add_columns(root, {"c": ("int", 7)})
            C.optimize_versioned(spark, root, cluster_by=["v"])
        troot = os.path.join(root, "t") if is_db else root
        for b, gen in _entry(root, is_db)["buckets"].items():
            leaf = os.path.join(troot, gen, f"{C.MERGE_BUCKET_COL}={b}")
            for f in os.listdir(leaf):
                if f.endswith(".parquet"):
                    col = pq.read_table(os.path.join(leaf, f)).column("c")
                    assert set(col.to_pylist()) == {7}


# ---------------------------------------------------------------------------
# the conflict matrix: stale base_token vs a disjoint or an overlapping
# intervening commit, every data verb, both layouts


def _bucket_keys(spark, root, db):
    df = (
        C.read_versioned_db(spark, root, "t")
        if db
        else C.read_versioned_table(spark, root)
    )
    by: dict = {}
    for r in df.select("k", C.MERGE_BUCKET_COL).orderBy("k").collect():
        by.setdefault(r[C.MERGE_BUCKET_COL], []).append(r.k)
    return by


def _matrix_verbs(spark):
    def row(k, v):
        return spark.createDataFrame([(k, v)], "k long, v double")

    def keys(k):
        return spark.createDataFrame([(k,)], "k long")

    def feed(k):
        return spark.createDataFrame(
            [(k, 9, 123.0, "update_postimage")],
            "k long, g long, v double, _change_type string",
        )

    def merge(nm):
        return (
            lambda p, k, t: C.merge_into_versioned(
                spark, p, row(k, -5.0), "k", ["v"], base_token=t,
                not_matched=nm,
            ),
            lambda p, k, t: C.merge_into_versioned_db(
                spark, p, {"t": row(k, -5.0)}, {"t": ["v"]}, base_token=t,
                not_matched=nm,
            ),
            -5.0,
        )

    def delete(mode):
        return (
            lambda p, k, t: C.delete_from_versioned(
                spark, p, keys(k), "k", base_token=t, mode=mode
            ),
            lambda p, k, t: C.delete_from_versioned_db(
                spark, p, {"t": keys(k)}, base_token=t, mode=mode
            ),
            None,
        )

    def update(mode):
        return (
            lambda p, k, t: C.update_versioned(
                spark, p, {"v": "123.0"}, where=f"k = {k}", base_token=t,
                mode=mode,
            ),
            lambda p, k, t: C.update_versioned_db(
                spark, p, {"t": {"set": {"v": "123.0"}, "where": f"k = {k}"}},
                base_token=t, mode=mode,
            ),
            123.0,
        )

    # (single-table call, db call, expected v of the key afterwards:
    # None = deleted, "same" = unchanged)
    return {
        "merge_ignore": merge("ignore"),
        "merge_insert": merge("insert"),
        "delete_rewrite": delete("rewrite"),
        "delete_dv": delete("dv"),
        "update_rewrite": update("rewrite"),
        "update_dv": update("dv"),
        "apply_changes": (
            lambda p, k, t: C.apply_changes_versioned(
                spark, p, feed(k), base_token=t
            ),
            lambda p, k, t: C.apply_changes_versioned_db(
                spark, p, {"t": feed(k)}, base_token=t
            ),
            123.0,
        ),
        # the set-up gives the key's bucket a DV, so it is the only
        # OPTIMIZE candidate
        "optimize": (
            lambda p, k, t: C.optimize_versioned(
                spark, p, max_files=10**6, base_token=t
            ),
            lambda p, k, t: C.optimize_versioned_db(
                spark, p, max_files=10**6, base_token=t
            ),
            "same",
        ),
    }


MATRIX_VERBS = [
    "merge_ignore", "merge_insert", "delete_rewrite", "delete_dv",
    "update_rewrite", "update_dv", "apply_changes", "optimize",
]


@pytest.mark.parametrize("intervening", ["disjoint", "overlapping"])
@pytest.mark.parametrize("layout", ["table", "db"])
@pytest.mark.parametrize("verb", MATRIX_VERBS)
def test_conflict_matrix(spark, tmp_path, verb, layout, intervening):
    db = layout == "db"
    single, db_call, want = _matrix_verbs(spark)[verb]
    run = db_call if db else single
    root = str(tmp_path / layout)
    _write(spark, root, db)
    by = _bucket_keys(spark, root, db)
    (ba, a_keys), (bb, b_keys) = sorted(by.items())[:2]
    key, other = a_keys[0], a_keys[1]
    if verb == "optimize":
        dv_key = a_keys[2]
        if db:
            C.delete_from_versioned_db(
                spark, root,
                {"t": spark.createDataFrame([(dv_key,)], "k long")},
                mode="dv",
            )
        else:
            C.delete_from_versioned(
                spark, root, spark.createDataFrame([(dv_key,)], "k long"),
                "k", mode="dv",
            )
    t0 = _head(root, db)["token"]
    hit = b_keys[0] if intervening == "disjoint" else other
    upd = spark.createDataFrame([(hit, 500.0)], "k long, v double")
    if db:
        C.merge_into_versioned_db(spark, root, {"t": upd}, {"t": ["v"]})
    else:
        C.merge_into_versioned(spark, root, upd, "k", ["v"])
    head = _head(root, db)
    if intervening == "overlapping":
        with pytest.raises(C.ConcurrentMergeError):
            run(root, key, t0)
        assert _head(root, db)["token"] == head["token"]
        return
    run(root, key, t0)
    after = _head(root, db)
    assert after["seq"] == head["seq"] + 1
    got = dict(_rows_kv(spark, root, db))
    assert got[hit] == 500.0  # the intervening write survived the rebase
    if want is None:
        assert key not in got
    elif want == "same":
        assert got[key] == float(key) and dv_key not in got
        assert str(ba) not in (_entry(root, db).get("dv") or {})
    else:
        assert got[key] == want


def _rows_kv(spark, root, db):
    df = (
        C.read_versioned_db(spark, root, "t")
        if db
        else C.read_versioned_table(spark, root)
    )
    return [(r.k, r.v) for r in df.select("k", "v").collect()]


# ---------------------------------------------------------------------------
# MERGE keys on the manifest's pk


def _refuses_foreign_key(spark, tmp_path, merge):
    root = str(tmp_path / "t")
    _write(spark, root, False)
    before = _head(root, False)["token"]
    upd = spark.createDataFrame([(2, 99.0)], "g long, v double")
    with pytest.raises(ValueError, match="merge key 'g' is not the table key"):
        merge(root, upd)
    assert _head(root, False)["token"] == before
    assert 99.0 not in {v for _, v in _rows_kv(spark, root, False)}


def test_merge_refuses_a_key_that_is_not_the_table_key(spark, tmp_path):
    _refuses_foreign_key(
        spark, tmp_path,
        lambda root, upd: C.merge_into_versioned(spark, root, upd, "g", ["v"]),
    )


def test_upsert_batch_refuses_a_key_that_is_not_the_table_key(
    spark, tmp_path
):
    _refuses_foreign_key(
        spark, tmp_path,
        lambda root, upd: upsert_batch(
            spark, root, upd.withColumn("ts", F.lit(1)), "g", ["v"],
            order_col="ts",
        ),
    )
