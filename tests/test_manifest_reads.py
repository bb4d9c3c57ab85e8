"""Reads planned from the manifest: committed versioned tables are
scanned under the schema their manifest records (never a footer
inference job), integer point lookups resolve their buckets on the
driver, and every bucket write keeps the recorded schema true — a
type widening the parquet reader applies to old files is recorded in
the same commit, anything else raises before the commit."""

import contextlib
import decimal
import os
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StructField,
    StructType,
)

import amaxa_spark.sources.catalog as catalog
from amaxa_spark.sources.catalog import (
    _bucket_expr,
    _bucket_manifest,
    _db_manifest,
    alter_versioned_add_columns,
    alter_versioned_db_add_columns,
    alter_versioned_db_drop_columns,
    alter_versioned_db_rename_column,
    alter_versioned_drop_columns,
    alter_versioned_rename_column,
    apply_changes_versioned,
    apply_changes_versioned_db,
    clone_versioned,
    delete_from_versioned,
    delete_from_versioned_db,
    merge_into_versioned,
    merge_into_versioned_db,
    optimize_versioned,
    optimize_versioned_db,
    pk_value_buckets,
    read_versioned_db,
    read_versioned_table,
    rebucket_versioned,
    restore_versioned,
    restore_versioned_db,
    update_versioned,
    update_versioned_db,
    write_versioned_db,
    write_versioned_table,
)


def _int_frame(spark, n=200):
    return spark.range(n).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("int").alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
    )


class _Single:
    """Single-table layout behind the verbs these tests drive."""

    name = "single"

    def __init__(self, spark, root):
        self.spark, self.root = spark, root

    def write(self, df, pk, n_buckets, **kw):
        return write_versioned_table(df, self.root, pk, n_buckets, **kw)

    def read(self, **kw):
        return read_versioned_table(self.spark, self.root, **kw)

    def head(self):
        return _bucket_manifest(self.root)

    def entry(self, m):
        return m

    def merge(self, upd, pk, set_cols, **kw):
        return merge_into_versioned(self.spark, self.root, upd, pk, set_cols, **kw)

    def apply(self, ch):
        return apply_changes_versioned(self.spark, self.root, ch)


class _Db(_Single):
    """One table ``t`` of the transactional layout."""

    name = "db"

    def write(self, df, pk, n_buckets, **kw):
        kw = {k: {"t": v} for k, v in kw.items()}
        return write_versioned_db(
            self.spark, self.root, {"t": df}, {"t": pk}, n_buckets, **kw
        )

    def read(self, **kw):
        return read_versioned_db(self.spark, self.root, "t", **kw)

    def head(self):
        return _db_manifest(self.root)

    def entry(self, m):
        return m["tables"]["t"]

    def merge(self, upd, pk, set_cols, **kw):
        return merge_into_versioned_db(
            self.spark, self.root, {"t": upd}, {"t": set_cols}, **kw
        )

    def apply(self, ch):
        return apply_changes_versioned_db(self.spark, self.root, {"t": ch})


LAYOUTS = [_Single, _Db]


def _rows(df):
    cols = sorted(c for c in df.columns if c != catalog.MERGE_BUCKET_COL)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


# ---------------------------------------------------------------------------
# the recorded schema stays true
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("layout", LAYOUTS, ids=lambda c: c.name)
def test_merge_widening_is_recorded_and_every_read_sees_it(
    spark, tmp_path, layout
):
    t = layout(spark, str(tmp_path / "t"))
    t.write(_int_frame(spark), "k", 16, stats_cols=["v"])
    big = 10**12
    upd = spark.createDataFrame([(5, big)], "k long, v long")
    m = t.merge(upd, "k", ["v"])
    assert catalog._recorded_col_type(t.entry(m), "v").simpleString() == "bigint"
    full = t.read()
    assert dict(full.dtypes)["v"] == "bigint"
    assert _rows(full) == [(i, f"s{i}", big if i == 5 else i) for i in range(200)]
    # a key in an untouched bucket (only int files) and the merged key
    untouched = next(
        k for k in range(200)
        if pk_value_buckets(spark, t.entry(m), [k])
        != pk_value_buckets(spark, t.entry(m), [5])
    )
    for keys in ([untouched], [5, untouched], list(range(200))):
        got = t.read(pk_in=keys)
        assert dict(got.dtypes)["v"] == "bigint"
        assert sorted((r.k, r.v) for r in got.collect()) == sorted(
            (k, big if k == 5 else k) for k in keys
        )
    # the range stats still prune on the widened column
    assert [r.k for r in t.read(prune=[("v", big, None)]).collect()] == [5]


@pytest.mark.parametrize("layout", LAYOUTS, ids=lambda c: c.name)
def test_incompatible_update_types_raise_before_the_commit(
    spark, tmp_path, layout
):
    t = layout(spark, str(tmp_path / "t"))
    df = _int_frame(spark).withColumn("w", F.col("k").cast("long"))
    t.write(df, "k", 16)
    head = t.head()
    # a string into the int column: never committed
    with pytest.raises(Exception):
        t.merge(spark.createDataFrame([(5, "x")], "k int, v string"), "k", ["v"])
    # a double into a bigint column: the reader cannot widen long to
    # double, so no read schema serves old and new files alike; the
    # check runs before the write, so not even an orphan is left
    gen_dir = t.root if layout is _Single else os.path.join(t.root, "t")
    gens = set(os.listdir(gen_dir))
    with pytest.raises(ValueError, match="from bigint to double"):
        t.merge(spark.createDataFrame([(5, 0.5)], "k int, w double"), "k", ["w"])
    assert set(os.listdir(gen_dir)) == gens
    assert (t.head()["seq"], t.head()["token"]) == (head["seq"], head["token"])
    assert _rows(t.read()) == _rows(df)


def test_widening_keeps_pk_and_bloom_renderings(spark, tmp_path):
    """int → double is a reader widening, but it changes how a value
    renders — the pk's rendering is its bucket and Bloom sidecars hash
    renderings — so it is refused there and accepted elsewhere."""
    root = str(tmp_path / "t")
    df = _int_frame(spark).withColumn("b", F.col("k"))
    write_versioned_table(df, root, "k", 8, bloom_cols=["b"])
    with pytest.raises(ValueError, match="from int to double"):
        merge_into_versioned(
            spark, root, spark.createDataFrame([(5, 1.5)], "k int, b double"),
            "k", ["b"],
        )
    m = merge_into_versioned(
        spark, root, spark.createDataFrame([(5, 1.5)], "k int, v double"),
        "k", ["v"],
    )
    assert catalog._recorded_col_type(m, "v").simpleString() == "double"
    assert read_versioned_table(spark, root, pk_in=[5]).first().v == 1.5
    assert read_versioned_table(spark, root, pk_in=[6]).first().v == 6.0


def test_widening_an_added_column_updates_its_declared_type(spark, tmp_path):
    root = str(tmp_path / "t")
    write_versioned_table(_int_frame(spark), root, "k", 8)
    alter_versioned_add_columns(root, {"a": ("int", 7)})
    m = merge_into_versioned(
        spark, root, spark.createDataFrame([(5, 2**40)], "k int, a long"),
        "k", ["a"],
    )
    assert m["added_columns"]["a"] == {"type": "bigint", "default": 7}
    got = {r.k: r.a for r in read_versioned_table(spark, root).collect()}
    assert got[5] == 2**40 and got[6] == 7 and len(got) == 200


# ---------------------------------------------------------------------------
# driver-side integer bucket resolution and jobs per read
# ---------------------------------------------------------------------------


def _jobs(spark, fn):
    """Spark jobs started by ``fn`` (counted through the status
    tracker under a private job group)."""
    sc = spark.sparkContext
    group = f"probe-{random.getrandbits(48):x}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _fake_entry(dt, n=16):
    return {
        "pk": "k",
        "n_buckets": n,
        "schema_json": StructType([StructField("k", dt)]).json(),
    }


@pytest.mark.parametrize(
    "dt,bits",
    [(ByteType(), 8), (ShortType(), 16), (IntegerType(), 32), (LongType(), 64)],
    ids=lambda x: getattr(x, "simpleString", lambda: str(x))(),
)
def test_int_pk_buckets_resolve_on_driver_exactly(spark, dt, bits):
    lo, hi = -(1 << (bits - 1)), (1 << (bits - 1)) - 1
    rng = random.Random(bits)
    vals = sorted(
        {lo, lo + 1, -1, 0, 1, hi - 1, hi}
        | {rng.randint(lo, hi) for _ in range(60)}
        | {rng.randint(max(lo, -1000), min(hi, 1000)) for _ in range(20)}
    )
    entry = _fake_entry(dt, n=37)
    jobs, fast = _jobs(
        spark, lambda: {v: pk_value_buckets(spark, entry, [v]) for v in vals}
    )
    assert jobs == 0
    ref = {
        r.k: r.b
        for r in spark.createDataFrame(
            [(v,) for v in vals], StructType([StructField("k", dt)])
        )
        .select("k", _bucket_expr("k", 37).alias("b"))
        .collect()
    }
    assert fast == {v: [ref[v]] for v in vals}
    # a batch resolves to the union, still with no job
    jobs, batch = _jobs(spark, lambda: pk_value_buckets(spark, entry, vals))
    assert jobs == 0 and batch == sorted(set(ref.values()))


@pytest.mark.parametrize("dt", [ByteType(), IntegerType(), LongType()],
                         ids=lambda d: d.simpleString())
def test_non_int_keys_still_take_the_job(spark, dt):
    entry = _fake_entry(dt)
    for v in (True, 5.0, decimal.Decimal("5")):
        jobs, got = _jobs(spark, lambda: pk_value_buckets(spark, entry, [v]))
        assert jobs >= 1, v
        # the job casts to the recorded type: same bucket as the int
        assert got == pk_value_buckets(spark, entry, [int(v)]), v
    # out of range for the type: the job's cast decides (ANSI raises)
    oor = 1 << (64 if isinstance(dt, LongType) else 40)

    def run():
        with contextlib.suppress(Exception):
            pk_value_buckets(spark, entry, [oor])

    assert _jobs(spark, run)[0] >= 1


@pytest.mark.parametrize("layout", LAYOUTS, ids=lambda c: c.name)
def test_point_read_plans_without_jobs(spark, tmp_path, layout):
    t = layout(spark, str(tmp_path / "t"))
    df = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    t.write(df, "k", 16)
    jobs, frame = _jobs(spark, lambda: t.read(pk_in=[3, 77, 499, 10**6]))
    assert jobs == 0
    jobs, rows = _jobs(spark, frame.collect)
    assert jobs == 1
    assert sorted((r.k, r.v) for r in rows) == [(3, 9), (77, 231), (499, 1497)]


@pytest.mark.parametrize("layout", LAYOUTS, ids=lambda c: c.name)
def test_altered_table_read_plans_without_jobs(spark, tmp_path, layout):
    t = layout(spark, str(tmp_path / "t"))
    t.write(_int_frame(spark, 100), "k", 8)
    if layout is _Single:
        alter_versioned_add_columns(t.root, {"a": ("string", "d")})
        alter_versioned_drop_columns(t.root, ["s"])
        alter_versioned_rename_column(t.root, "v", "val")
    else:
        alter_versioned_db_add_columns(t.root, "t", {"a": ("string", "d")})
        alter_versioned_db_drop_columns(t.root, "t", ["s"])
        alter_versioned_db_rename_column(t.root, "t", "v", "val")
    # a merge materializes the added column in some buckets only
    t.merge(spark.createDataFrame([(1, "x")], "k int, a string"), "k", ["a"])
    jobs, frame = _jobs(spark, t.read)
    assert jobs == 0
    assert sorted(frame.columns) == sorted(["k", "val", "a", catalog.MERGE_BUCKET_COL])
    jobs, rows = _jobs(spark, frame.collect)
    assert jobs == 1
    got = sorted((r.k, r.val, r.a) for r in rows)
    assert got == [(i, i, "x" if i == 1 else "d") for i in range(100)]


# ---------------------------------------------------------------------------
# recorded-schema reads equal footer-inferred reads after every verb
# ---------------------------------------------------------------------------


def _footer_read(monkeypatch, t):
    """The pre-change read: schema inferred from parquet footers
    (merged across files once an ALTER happened)."""
    with monkeypatch.context() as mp:
        mp.setattr(catalog, "_manifest_read_schema", lambda entry: None)
        df = t.read()
        return dict(df.dtypes), _rows(df)


def _check_same(monkeypatch, t, step):
    df = t.read()
    dtypes, rows = _footer_read(monkeypatch, t)
    assert dict(df.dtypes) == dtypes, step
    assert _rows(df) == rows, step


def _eq_frame(spark):
    return spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.concat(F.lit("n"), F.col("id")).alias("name"),
        F.col("id").cast("double").alias("x"),
    )


def test_recorded_schema_reads_match_footer_reads_single(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "t")
    t = _Single(spark, root)
    steps = [
        ("write", lambda: write_versioned_table(
            _eq_frame(spark), root, "k", 8, stats_cols=["v"])),
        ("merge ignore", lambda: merge_into_versioned(
            spark, root, spark.createDataFrame([(1, 100), (2, 200)], "k long, v long"),
            "k", ["v"])),
        ("merge insert", lambda: merge_into_versioned(
            spark, root, spark.createDataFrame([(70, 7), (71, 8)], "k long, v long"),
            "k", ["v"], not_matched="insert")),
        ("update rewrite", lambda: update_versioned(
            spark, root, {"name": "upper(name)"}, where="k < 10")),
        ("update dv", lambda: update_versioned(
            spark, root, {"x": "x + 0.5"}, where="k between 20 and 25", mode="dv")),
        ("delete dv", lambda: delete_from_versioned(
            spark, root, spark.createDataFrame([(3,), (21,)], "k long"), "k",
            mode="dv")),
        ("add column", lambda: alter_versioned_add_columns(root, {"a": ("int", 1)})),
        ("merge after add", lambda: merge_into_versioned(
            spark, root, spark.createDataFrame([(4, 9)], "k long, a int"),
            "k", ["a"])),
        ("apply_changes", lambda: apply_changes_versioned(
            spark, root, read_versioned_table(spark, root, pk_in=[5])
            .drop(catalog.MERGE_BUCKET_COL)
            .withColumn("v", F.lit(55).cast("long"))
            .withColumn("_change_type", F.lit("update_postimage")))),
        ("drop column", lambda: alter_versioned_drop_columns(root, ["x"])),
        ("rename column", lambda: alter_versioned_rename_column(root, "name", "label")),
        ("merge after rename", lambda: merge_into_versioned(
            spark, root, spark.createDataFrame([(6, "six")], "k long, label string"),
            "k", ["label"])),
        ("optimize", lambda: optimize_versioned(spark, root)),
        ("rebucket", lambda: rebucket_versioned(spark, root, 5)),
    ]
    tokens = []
    for step, fn in steps:
        fn()
        tokens.append(_bucket_manifest(root)["token"])
        _check_same(monkeypatch, t, step)
    restore_versioned(root, tokens[7])
    _check_same(monkeypatch, t, "restore")
    clone = _Single(spark, str(tmp_path / "clone"))
    clone_versioned(root, clone.root, tokens[10])
    _check_same(monkeypatch, clone, "clone")


def test_recorded_schema_reads_match_footer_reads_db(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "d")
    t = _Db(spark, root)

    def up(spec, mode="rewrite"):
        return update_versioned_db(spark, root, {"t": spec}, mode=mode)

    steps = [
        ("write", lambda: t.write(_eq_frame(spark), "k", 8, stats_cols=["v"])),
        ("merge ignore", lambda: t.merge(
            spark.createDataFrame([(1, 100), (2, 200)], "k long, v long"),
            "k", ["v"])),
        ("merge insert", lambda: t.merge(
            spark.createDataFrame([(70, 7), (71, 8)], "k long, v long"),
            "k", ["v"], not_matched="insert")),
        ("update rewrite", lambda: up({"set": {"name": "upper(name)"}, "where": "k < 10"})),
        ("update dv", lambda: up(
            {"set": {"x": "x + 0.5"}, "where": "k between 20 and 25"}, mode="dv")),
        ("delete dv", lambda: delete_from_versioned_db(
            spark, root, {"t": spark.createDataFrame([(3,), (21,)], "k long")},
            mode="dv")),
        ("add column", lambda: alter_versioned_db_add_columns(root, "t", {"a": ("int", 1)})),
        ("merge after add", lambda: t.merge(
            spark.createDataFrame([(4, 9)], "k long, a int"), "k", ["a"])),
        ("apply_changes", lambda: t.apply(
            t.read(pk_in=[5])
            .drop(catalog.MERGE_BUCKET_COL)
            .withColumn("v", F.lit(55).cast("long"))
            .withColumn("_change_type", F.lit("update_postimage")))),
        ("drop column", lambda: alter_versioned_db_drop_columns(root, "t", ["x"])),
        ("rename column", lambda: alter_versioned_db_rename_column(root, "t", "name", "label")),
        ("merge after rename", lambda: t.merge(
            spark.createDataFrame([(6, "six")], "k long, label string"), "k", ["label"])),
        ("optimize", lambda: optimize_versioned_db(spark, root)),
    ]
    tokens = []
    for step, fn in steps:
        fn()
        tokens.append(_db_manifest(root)["token"])
        _check_same(monkeypatch, t, step)
    restore_versioned_db(root, tokens[7])
    _check_same(monkeypatch, t, "restore")


# ---------------------------------------------------------------------------
# CDC guard: a post-image and a delete for the same key
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("layout", LAYOUTS, ids=lambda c: c.name)
def test_cdc_post_image_and_delete_for_one_key_is_refused(
    spark, tmp_path, layout
):
    t = layout(spark, str(tmp_path / "t"))
    t.write(_int_frame(spark, 20), "k", 4)
    head = t.head()
    ch = spark.createDataFrame(
        [(3, 30, "s3", "update_postimage"), (3, 3, "s3", "delete"),
         (4, 40, "s4", "update_postimage")],
        "k int, v int, s string, _change_type string",
    )
    with pytest.raises(
        ValueError,
        match=r"changes carry BOTH a post-image and a delete for pk 3; "
        r"one snapshot pair never produces that",
    ):
        t.apply(ch)
    assert t.head()["seq"] == head["seq"]
