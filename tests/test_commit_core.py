"""The versioned commit core: one CAS loop and one DML driver serve
both layouts, a single table being the one-table transaction
``{"": manifest}``. These tests pin what that promises:

- every data verb gives the same rows and the same per-table
  manifest on a single table and on a one-table database built from
  the same frame (an ALTER-added column with a default included);
- the conflict rules are one matrix: a stale ``base_token`` rebases
  past a disjoint-bucket commit (both writes visible) and raises
  ``ConcurrentMergeError`` on an overlapping one (head unmoved), for
  every data verb in both layouts;
- MERGE keys on the table's own pk: a caller naming another column
  is refused, through the verb and the streaming sink alike.
"""

import pytest
from pyspark.sql import functions as F

from amaxa_spark.sources import catalog as C
from amaxa_spark.streaming.merge_stream import upsert_batch

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

    return {
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


LAYOUT_VERBS = [
    "merge_ignore", "merge_insert", "delete_rewrite", "delete_dv",
    "update_rewrite", "update_dv", "apply_changes", "optimize",
    "optimize_cluster_by", "optimize_zorder_by", "optimize_min_dv_frac",
]


@pytest.mark.parametrize("verb", LAYOUT_VERBS)
def test_layouts_match(spark, tmp_path, verb):
    single, db = _layout_verbs(spark)[verb]
    dv_keys = spark.createDataFrame([(7,), (8,), (12,)], "k long")
    for is_db, run in ((False, single), (True, db)):
        root = str(tmp_path / ("db" if is_db else "t"))
        _write(spark, root, is_db, stats_cols=["v"],
               constraints={"v_big": "v > -1000"})
        if is_db:
            C.alter_versioned_db_add_columns(root, "t", {"c": ("int", 7)})
            C.delete_from_versioned_db(spark, root, {"t": dv_keys}, mode="dv")
        else:
            C.alter_versioned_add_columns(root, {"c": ("int", 7)})
            C.delete_from_versioned(spark, root, dv_keys, "k", mode="dv")
        run(root)
    t, d = str(tmp_path / "t"), str(tmp_path / "db")
    assert _rows(spark, t, False) == _rows(spark, d, True)
    et, ed = _entry(t, False), _entry(d, True)
    assert sorted(et["buckets"]) == sorted(ed["buckets"])
    for key in ("dv", "patch"):
        assert sorted(et.get(key) or {}) == sorted(ed.get(key) or {}), key
    for key in ("bucket_stats", "schema_json", "constraints",
                "added_columns"):
        assert et.get(key) == ed.get(key), key


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
