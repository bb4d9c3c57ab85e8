"""Write the on-disk compatibility fixture: one tiny versioned table
and one tiny versioned database that went through every manifest
feature (bucket stats, a Bloom column, a CHECK constraint, ADD /
RENAME / DROP COLUMN, a DV delete, a DV update and a stream marker),
plus ``expected.json``: what reads, exports, diffs and external SQL
gave on them when they were written.

Run it with the package version whose format is being pinned first
on ``sys.path``:

    python tests/fixtures/versioned_compat/make.py <checkout> <out_dir>

``tests/test_versioned_compat.py`` then checks that the current code
gives the same results on the committed tables."""

import json
import os
import shutil
import sys


def _rows(rows):
    return sorted((list(r) for r in rows), key=repr)


def frame_rows(df):
    df = df.drop("__mb")
    return {
        "columns": sorted(df.columns),
        "rows": _rows(df.select(*sorted(df.columns)).collect()),
    }


def sql_rows(sql):
    import duckdb

    rel = duckdb.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return {
        "columns": [cols[i] for i in order],
        "rows": _rows(tuple(r[i] for i in order) for r in rel.fetchall()),
    }


def parquet_rows(spark, out):
    return frame_rows(spark.read.parquet(out))


PRUNE = [("v", 0.0, 3.0)]
EQ = [("s", "e")]


def build(spark, C, root, db):
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(k, k % 3, float(k), "abcdefgh"[k], k * 10) for k in range(8)],
        "k long, g long, v double, s string, x long",
    ).coalesce(1)
    upd = spark.createDataFrame(
        [(1, 10.5), (100, 7.25)], "k long, v double"
    )
    dv_keys = spark.createDataFrame([(2,)], "k long")
    tokens = []
    if db:
        other = spark.createDataFrame(
            [(k, f"o{k}") for k in range(4)], "id long, name string"
        ).coalesce(1)
        m = C.write_versioned_db(
            spark, root, {"a": base, "b": other}, {"a": "k", "b": "id"},
            n_buckets=2, stats_cols={"a": ["v"]}, bloom_cols={"a": ["s"]},
            constraints={"a": {"v_pos": "v >= 0"}},
        )
        tokens.append(m["token"])
        m = C.merge_into_versioned_db(
            spark, root, {"a": upd}, {"a": ["v"]}, not_matched="insert",
            extra_meta={"streams": {"s1": 3}},
        )
        tokens.append(m["token"])
        C.alter_versioned_db_add_columns(root, "a", {"c": ("int", 7)})
        C.alter_versioned_db_rename_column(root, "a", "g", "grp", spark=spark)
        C.alter_versioned_db_drop_columns(root, "a", ["x"], spark=spark)
        C.delete_from_versioned_db(spark, root, {"a": dv_keys}, mode="dv")
        m = C.update_versioned_db(
            spark, root,
            {"a": {"set": {"v": F.col("v") + 100}, "where": "k = 3"}},
            mode="dv",
        )
    else:
        m = C.write_versioned_table(
            base, root, "k", n_buckets=2, stats_cols=["v"],
            bloom_cols=["s"], constraints={"v_pos": "v >= 0"},
        )
        tokens.append(m["token"])
        m = C.merge_into_versioned(
            spark, root, upd, "k", ["v"], not_matched="insert",
            extra_meta={"streams": {"s1": 3}},
        )
        tokens.append(m["token"])
        C.alter_versioned_add_columns(root, {"c": ("int", 7)})
        C.alter_versioned_rename_column(root, "g", "grp", spark=spark)
        C.alter_versioned_drop_columns(root, ["x"], spark=spark)
        C.delete_from_versioned(spark, root, dv_keys, "k", mode="dv")
        m = C.update_versioned(
            spark, root, {"v": F.col("v") + 100}, where="k = 3", mode="dv"
        )
    tokens.append(m["token"])
    return tokens


def observe(spark, C, root, db, tokens, scratch):
    """Everything the fixture pins, computed with the code on
    ``sys.path`` from the tables under ``root``."""
    t0, t1, head = tokens
    if db:
        def read(token=None):
            return C.read_versioned_db(spark, root, "a", token=token)

        def diff(a, b):
            return C.diff_versioned_db(spark, root, "a", a, b)

        def sql(**kw):
            kw = {k: {"a": v} for k, v in kw.items()}
            return C.db_manifest_to_sql(
                root, ["a"], spark=spark, **kw
            )["a"]

        out = os.path.join(scratch, "export_db")
        rec = C.export_db_snapshot(root, out, spark=spark)
        export = {
            name: {
                "mode": rec["tables"][name]["mode"],
                **parquet_rows(spark, os.path.join(out, name)),
            }
            for name in sorted(rec["tables"])
        }
    else:
        def read(token=None):
            return C.read_versioned_table(spark, root, token=token)

        def diff(a, b):
            return C.diff_versioned(spark, root, a, b)

        def sql(**kw):
            return C.manifest_to_sql(root, spark=spark, **kw)

        out = os.path.join(scratch, "export")
        rec = C.export_snapshot(root, out, spark=spark)
        export = {"mode": rec["mode"], **parquet_rows(spark, out)}
    shutil.rmtree(out)
    return {
        "tokens": tokens,
        "read_head": frame_rows(read()),
        "read_t0": frame_rows(read(t0)),
        "read_t1": frame_rows(read(t1)),
        "diff_t0_head": frame_rows(diff(t0, head)),
        "diff_t1_head": frame_rows(diff(t1, None)),
        "export": export,
        "sql": sql_rows(sql()),
        "sql_prune": sql_rows(sql(prune=PRUNE)),
        "sql_eq": sql_rows(sql(eq=EQ)),
    }


def main(checkout, out_dir):
    sys.path.insert(0, os.path.abspath(checkout))
    from amaxa_spark import get_spark
    from amaxa_spark.sources import catalog as C

    spark = get_spark("versioned_compat", cpus=1)
    os.makedirs(out_dir, exist_ok=False)
    scratch = os.path.join(out_dir, "_scratch")
    expected = {}
    for name, db in (("table", False), ("db", True)):
        root = os.path.join(out_dir, name)
        tokens = build(spark, C, root, db)
        expected[name] = observe(spark, C, root, db, tokens, scratch)
    shutil.rmtree(scratch, ignore_errors=True)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True, default=str)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    main(*sys.argv[1:])
