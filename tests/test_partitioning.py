"""Partition pruning, bucketed co-located joins, JSON source — the
physical-layout levers the engine relies on at scale."""

import pytest
from pyspark.sql import functions as F

from amaxa_spark.sources.catalog import TableCatalog


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = str(tmp_path / "orders_by_status")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(out)

    df = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = _plan(df)
    # the partition filter must appear as PartitionFilters, not a scan filter
    assert "PartitionFilters" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters")[1][:200]
    expected = orders.filter("o_orderstatus = 'F'").count()
    assert df.count() == expected


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    # warehouse dir is a static conf; managed tables land in the
    # default spark-warehouse and are dropped (with data) at the end
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
        "overwrite"
    ).saveAsTable("orders_b")
    cust.withColumnRenamed("c_custkey", "o_custkey").write.bucketBy(
        8, "o_custkey"
    ).sortBy("o_custkey").mode("overwrite").saveAsTable("cust_b")

    # disable broadcast so the join strategy decision is about shuffles
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("orders_b").join(spark.table("cust_b"), "o_custkey")
        plan = _plan(j)
        # co-located bucketed join: no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        n = j.count()
        plain = orders.join(
            cust, orders.o_custkey == cust.c_custkey
        ).count()
        assert n == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS cust_b")


def test_json_source_roundtrip(spark, sf_dir, tmp_path):
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    out = str(tmp_path / "nation.json")
    nation.write.mode("overwrite").json(out)
    cat = TableCatalog(spark, str(tmp_path), fmt="json")
    back = cat["nation"]
    assert back.count() == nation.count()
    assert {r.n_name for r in back.collect()} == {
        r.n_name for r in nation.collect()
    }


def test_bucketize_catalog_preserves_extract(spark, sf_dir):
    from amaxa_spark.operators.extract import ExtractOperation
    from amaxa_spark.plans.plan import ExtractScope, ExtractStepPlan
    from amaxa_spark.sources.catalog import bucketize
    from amaxa_spark.tpch import tpch_catalog, tpch_registry

    steps = [
        ExtractStepPlan("customer", ExtractScope.QUERY, where="c_nationkey < 5"),
        ExtractStepPlan("orders", ExtractScope.DESCENDENTS),
    ]
    plain = ExtractOperation(
        spark, tpch_catalog(spark, sf_dir), tpch_registry(), steps
    ).run()
    try:
        bcat = bucketize(
            spark,
            tpch_catalog(spark, sf_dir),
            {"customer": ("c_custkey", 4), "orders": ("o_custkey", 4)},
        )
        bucketed = ExtractOperation(spark, bcat, tpch_registry(), steps).run()
        for t in ("customer", "orders"):
            a = {tuple(r) for r in plain[t].collect()}
            b = {tuple(r) for r in bucketed[t].collect()}
            assert a == b
        # the bucketed scan carries its layout into the plan: grouping
        # orders by its bucket key needs no exchange
        agg = bcat["orders"].groupBy("o_custkey").count()
        plan = _plan(agg)
        assert "Exchange hashpartitioning(o_custkey" not in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS customer_bkt")
        spark.sql("DROP TABLE IF EXISTS orders_bkt")


def test_bucket_spec_for_operation(spark, sf_dir):
    from amaxa_spark.sources.catalog import bucket_spec_for_operation
    from amaxa_spark.tpch import tpch_registry

    order = ["customer", "orders", "lineitem"]
    pk_spec = bucket_spec_for_operation(tpch_registry(), order, n_buckets=8)
    assert pk_spec["customer"] == ("c_custkey", 8)
    assert pk_spec["orders"] == ("o_orderkey", 8)
    fk_spec = bucket_spec_for_operation(tpch_registry(), order, n_buckets=8, by="fk")
    assert fk_spec["customer"] == ("c_custkey", 8)  # root: pk
    assert fk_spec["orders"] == ("o_custkey", 8)  # child: descendent FK


def test_zorder_key_interleaves_bits(spark):
    from amaxa_spark.operators.layout import zorder_key

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (255, 255)], "x long, y long"
    )
    out = {(r["x"], r["y"]): r["z"] for r in
           df.select("x", "y", zorder_key(["x", "y"], 8).alias("z")).collect()}
    # x occupies even bit positions, y odd ones
    assert out[(0, 0)] == 0
    assert out[(1, 0)] == 1       # x bit 0 -> position 0
    assert out[(0, 1)] == 2       # y bit 0 -> position 1
    # 3=0b11, 5=0b101 -> z = (1<<0)+(1<<2) + (1<<1)+(1<<5) = 39
    assert out[(3, 5)] == 39
    assert out[(255, 255)] == (1 << 16) - 1


def test_write_zordered_files_cluster_both_dims(spark, tmp_path):
    import glob

    from amaxa_spark.operators.layout import write_zordered, zorder_key

    # a 64x64 grid: every (x, y) combination once
    df = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    path = str(tmp_path / "zordered")
    write_zordered(df, path, ["x", "y"], bits=6, n_files=16)
    files = [f for f in glob.glob(f"{path}/part-*.parquet")]
    assert len(files) >= 8
    # each file's bounding box must be compact in BOTH dimensions —
    # the property lexicographic sort cannot give (its files span the
    # full y range for a fixed x prefix). With 16 of 4096 cells per
    # tile, a Morton tile's box is ~16x16 out of 64: area <= 1/4 of
    # the grid; a lexicographic layout would give 64-tall slivers
    # whose x-span is 1 but y-span is 64 (area 1/64 each but ANY
    # y-filter hits every file). Assert both spans bounded.
    for f in files:
        pdf = spark.read.parquet(f).toPandas()
        assert pdf["x"].max() - pdf["x"].min() <= 32
        assert pdf["y"].max() - pdf["y"].min() <= 32


def test_file_stats_index_prunes_zordered_scan(spark, tmp_path):
    from amaxa_spark.operators.layout import (
        file_stats_index,
        read_pruned,
        write_zordered,
    )

    df = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    path = str(tmp_path / "zidx")
    write_zordered(df, path, ["x", "y"], bits=6, n_files=16)
    idx = file_stats_index(spark, path, ["x", "y"]).localCheckpoint()

    # prune on the NON-leading dimension: must skip most files AND
    # return exactly the rows a full scan would
    out, nread, ntotal = read_pruned(spark, path, idx, "y", 10, 20)
    assert ntotal >= 8 and nread < ntotal
    assert out.count() == 64 * 11
    full = spark.read.parquet(path).where(F.col("y").between(10, 20))
    assert out.count() == full.count()
    # disjoint range: nothing read, empty result
    out2, nread2, _ = read_pruned(spark, path, idx, "y", 1000, 2000)
    assert nread2 == 0 and out2.count() == 0


def test_versioned_merge_is_atomic_and_time_travels(spark, tmp_path):
    """Manifest-versioned buckets: a merge rewrites only affected
    buckets under a NEW generation (old files untouched on disk), the
    manifest publish is the commit (an unpublished generation is
    invisible), and every pre-merge snapshot stays readable by token."""
    import os

    from amaxa_spark.sources.catalog import (
        MERGE_BUCKET_COL,
        merge_into_versioned,
        read_versioned_table,
        vacuum_versioned,
        write_versioned_table,
    )

    path = str(tmp_path / "vt")
    base = spark.createDataFrame(
        [(i, f"v{i}", 0) for i in range(200)], "pk long, val string, gen int"
    )
    m0 = write_versioned_table(base, path, pk="pk", n_buckets=8)
    assert read_versioned_table(spark, path).count() == 200

    # snapshot untouched-bucket file inventory before the merge
    def files_under(gen, bucket):
        d = os.path.join(path, gen, f"{MERGE_BUCKET_COL}={bucket}")
        return sorted(os.listdir(d)) if os.path.isdir(d) else None

    upd = spark.createDataFrame(
        [(7, "UPDATED", 1), (11, "UPDATED", 1)], "pk long, val string, gen int"
    )
    m1 = merge_into_versioned(spark, path, upd, pk="pk", set_cols=["val", "gen"])
    changed = {b for b, g in m1["buckets"].items() if g != m0["buckets"][b]}
    untouched = set(m0["buckets"]) - changed
    assert 1 <= len(changed) <= 2 and untouched
    # untouched buckets still point at generation 0 and their files
    # were not rewritten
    for b in untouched:
        assert m1["buckets"][b] == m0["buckets"][b]
        assert files_under(m0["buckets"][b], int(b)) == files_under(
            m1["buckets"][b], int(b)
        )
    cur = read_versioned_table(spark, path)
    got = {r.pk: (r.val, r.gen) for r in cur.collect()}
    assert got[7] == ("UPDATED", 1) and got[11] == ("UPDATED", 1)
    assert got[8] == ("v8", 0) and len(got) == 200
    # time travel: the pre-merge snapshot by token is bit-identical
    old = read_versioned_table(spark, path, token=m0["token"])
    assert {r.pk: r.val for r in old.collect()}[7] == "v7"

    # crash simulation: a generation directory with NO manifest is
    # invisible to readers...
    os.makedirs(os.path.join(path, "gen-deadbeef", f"{MERGE_BUCKET_COL}=0"))
    assert read_versioned_table(spark, path).count() == 200
    # ...and vacuum reclaims it while the current snapshot keeps reading
    removed = vacuum_versioned(path, keep_last=1)
    assert "gen-deadbeef" in removed
    assert read_versioned_table(spark, path).count() == 200
    # the vacuumed pre-merge token is gone (cleanly)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_versioned_table(spark, path, token=m0["token"])

    # MERGE parity with Delta: multiple update rows for one pk must
    # raise, never silently duplicate target rows
    dup_upd = spark.createDataFrame(
        [(7, "A", 2), (7, "B", 2)], "pk long, val string, gen int"
    )
    with _pytest.raises(ValueError, match="multiple rows for pk"):
        merge_into_versioned(spark, path, dup_upd, pk="pk", set_cols=["val"])
    assert read_versioned_table(spark, path).count() == 200  # unchanged


def test_versioned_merge_concurrent_writers_cas(spark, tmp_path):
    """Commit-log arbiter: two merges computed from the SAME snapshot
    both commit when their buckets are disjoint (the second claim
    loses the CAS race, rebases its bucket map onto the winner's head,
    and retries), history stays linear by commit seq, and a STALE
    merge overlapping an intervening commit raises
    ConcurrentMergeError instead of silently dropping the winner's
    update."""
    import pytest as _pytest

    from amaxa_spark.sources.catalog import (
        ConcurrentMergeError,
        _bucket_expr,
        list_generations,
        merge_into_versioned,
        read_versioned_table,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_cas")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "pk long, val string"
    )
    m0 = write_versioned_table(base, path, pk="pk", n_buckets=8)
    assert m0["seq"] == 0

    # derive each pk's bucket with the layout's own hash expression
    buckets = {
        r.pk: r.b
        for r in base.select("pk", _bucket_expr("pk", 8).alias("b")).collect()
    }
    by_bucket: dict[int, list[int]] = {}
    for p, b in buckets.items():
        by_bucket.setdefault(b, []).append(p)
    pk_a = by_bucket[0][0]
    pk_b = by_bucket[1][0]
    pk_a2 = by_bucket[0][1]  # same bucket as pk_a -> overlap case

    # writer A merges from the current head and commits seq 1
    m1 = merge_into_versioned(
        spark,
        path,
        spark.createDataFrame([(pk_a, "FROM_A")], "pk long, val string"),
        pk="pk",
        set_cols=["val"],
    )
    assert m1["seq"] == 1

    # writer B computed its merge BEFORE A committed (base_token pins
    # the m0 snapshot): disjoint bucket -> loses the CAS race at seq 1,
    # rebases onto A's head, commits seq 2 — BOTH updates visible
    m2 = merge_into_versioned(
        spark,
        path,
        spark.createDataFrame([(pk_b, "FROM_B")], "pk long, val string"),
        pk="pk",
        set_cols=["val"],
        base_token=m0["token"],
    )
    assert m2["seq"] == 2
    # B's manifest carries A's bucket generation (the rebase), not m0's
    assert m2["buckets"][str(buckets[pk_a])] == m1["buckets"][str(buckets[pk_a])]
    got = {r.pk: r.val for r in read_versioned_table(spark, path).collect()}
    assert got[pk_a] == "FROM_A" and got[pk_b] == "FROM_B"
    assert len(got) == 200

    # history is linear by commit seq, newest first
    assert [g["seq"] for g in list_generations(path)] == [2, 1, 0]
    assert list_generations(path)[0]["current"]

    # a stale merge touching A's bucket must conflict, not clobber
    with _pytest.raises(ConcurrentMergeError):
        merge_into_versioned(
            spark,
            path,
            spark.createDataFrame([(pk_a2, "STALE")], "pk long, val string"),
            pk="pk",
            set_cols=["val"],
            base_token=m0["token"],
        )
    # the conflicted merge committed nothing: head unchanged, A's
    # update intact
    assert {r.pk: r.val for r in read_versioned_table(spark, path).collect()}[
        pk_a
    ] == "FROM_A"
    assert [g["seq"] for g in list_generations(path)] == [2, 1, 0]

    # re-running the conflicted merge from the NEW head succeeds
    m3 = merge_into_versioned(
        spark,
        path,
        spark.createDataFrame([(pk_a2, "RETRIED")], "pk long, val string"),
        pk="pk",
        set_cols=["val"],
    )
    assert m3["seq"] == 3
    got = {r.pk: r.val for r in read_versioned_table(spark, path).collect()}
    assert got[pk_a] == "FROM_A" and got[pk_a2] == "RETRIED"


def test_versioned_vacuum_respects_unpublished_head_and_reinit(spark, tmp_path):
    """Two crash/CAS edge cases: (a) vacuum must never reclaim the
    chain HEAD's generations, even when the head's advisory history
    record is missing (a writer that died between the commit claim and
    the history publish); (b) re-initializing an existing table is a
    full-rewrite commit at the next seq, not a FileExistsError."""
    import os

    from amaxa_spark.sources.catalog import (
        HISTORY_DIR,
        merge_into_versioned,
        read_versioned_table,
        vacuum_versioned,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_edge")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "pk long, val string"
    )
    m0 = write_versioned_table(base, path, pk="pk", n_buckets=4)
    m1 = merge_into_versioned(
        spark,
        path,
        spark.createDataFrame([(3, "UPD")], "pk long, val string"),
        pk="pk",
        set_cols=["val"],
    )
    # simulate the crash window: the head's history record never landed
    os.remove(os.path.join(path, HISTORY_DIR, f"{m1['token']}.json"))
    removed = vacuum_versioned(path, keep_last=1)
    # the head's generations survive and the table still reads
    for gen in set(m1["buckets"].values()):
        assert gen not in removed
    got = {r.pk: r.val for r in read_versioned_table(spark, path).collect()}
    assert got[3] == "UPD" and len(got) == 100

    # re-init: full rewrite on the same chain, next seq, linear
    # history (data lands under a fresh generation dir, so the write
    # itself is safe against the existing tree)
    fresh = spark.createDataFrame([(0, "NEW")], "pk long, val string")
    m2 = write_versioned_table(fresh, path, pk="pk", n_buckets=4)
    assert m2["seq"] == m1["seq"] + 1
    got = {r.pk: r.val for r in read_versioned_table(spark, path).collect()}
    assert got == {0: "NEW"}


def test_cas_claim_is_linear_under_process_contention(tmp_path):
    """OS-process contention on the commit-claim step (no Spark — the
    claim is pure file-system CAS): 4 processes x 10 commits each,
    every process re-reading the head and retrying lost races. The
    chain must come out DENSE and LINEAR with every commit present
    exactly once — the invariant `merge_into_versioned`'s whole
    concurrency story rests on. tools/cas_stress.py runs the same
    check at 16x50 (SCALE_NOTES records the retry rates)."""
    import json
    import multiprocessing as mp
    import os

    from tools.cas_stress import worker

    path = str(tmp_path / "chain")
    os.makedirs(path)
    n_procs, n_commits = 4, 10
    q: mp.Queue = mp.Queue()
    procs = [
        mp.Process(target=worker, args=(path, w, n_commits, q))
        for w in range(n_procs)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    assert all(p.exitcode == 0 for p in procs)
    cdir = os.path.join(path, ".commits")
    commits = {}
    for f in os.listdir(cdir):
        if f.endswith(".json"):
            with open(os.path.join(cdir, f)) as fh:
                commits[int(f[: -len(".json")])] = json.load(fh)
    total = n_procs * n_commits
    assert sorted(commits) == list(range(total))
    assert len({m["token"] for m in commits.values()}) == total
    per_writer = {w: 0 for w in range(n_procs)}
    for seq, m in commits.items():
        assert m["seq"] == seq and m["parent_seq"] < seq
        per_writer[m["writer"]] += 1
    assert all(v == n_commits for v in per_writer.values())


def test_versioned_db_transactions_span_tables(spark, tmp_path):
    """Multi-table transactions: one commit moves BOTH tables (readers
    by token always see a cross-table-consistent snapshot), a
    transaction computed from a stale snapshot rebases when disjoint
    and conflicts when ANY table's bucket overlaps, and vacuum
    reclaims per-table generations that no retained transaction
    references."""
    import os

    import pytest as _pytest

    from amaxa_spark.sources.catalog import (
        ConcurrentMergeError,
        _bucket_expr,
        merge_into_versioned_db,
        read_versioned_db,
        vacuum_versioned_db,
        write_versioned_db,
    )

    path = str(tmp_path / "db")
    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in range(80)], "doc_id long, text string"
    )
    embs = spark.createDataFrame(
        [(i, f"v{i}") for i in range(80)], "vec_id long, vec string"
    )
    m0 = write_versioned_db(
        spark,
        path,
        {"documents": docs, "embeddings": embs},
        pks={"documents": "doc_id", "embeddings": "vec_id"},
        n_buckets=4,
    )
    assert m0["seq"] == 0
    assert read_versioned_db(spark, path, "documents").count() == 80
    assert read_versioned_db(spark, path, "embeddings").count() == 80

    # one transaction updates BOTH tables atomically
    m1 = merge_into_versioned_db(
        spark,
        path,
        {
            "documents": spark.createDataFrame(
                [(7, "DOC7v2")], "doc_id long, text string"
            ),
            "embeddings": spark.createDataFrame(
                [(7, "VEC7v2")], "vec_id long, vec string"
            ),
        },
        set_cols={"documents": ["text"], "embeddings": ["vec"]},
    )
    assert m1["seq"] == 1 and m1["token"] != m0["token"]
    d = {r.doc_id: r.text for r in read_versioned_db(spark, path, "documents").collect()}
    e = {r.vec_id: r.vec for r in read_versioned_db(spark, path, "embeddings").collect()}
    assert d[7] == "DOC7v2" and e[7] == "VEC7v2"
    # time travel returns the PRE-transaction state of BOTH tables
    d0 = {r.doc_id: r.text for r in
          read_versioned_db(spark, path, "documents", token=m0["token"]).collect()}
    e0 = {r.vec_id: r.vec for r in
          read_versioned_db(spark, path, "embeddings", token=m0["token"]).collect()}
    assert d0[7] == "text7" and e0[7] == "v7"

    # bucket helper for constructing disjoint/overlapping updates
    buckets = {
        r.doc_id: r.b
        for r in docs.select(
            "doc_id", _bucket_expr("doc_id", 4).alias("b")
        ).collect()
    }
    b7 = buckets[7]
    other = next(i for i, b in buckets.items() if b != b7)
    same = next(i for i, b in buckets.items() if b == b7 and i != 7)

    # stale transaction, disjoint buckets in every table -> rebases
    m2 = merge_into_versioned_db(
        spark,
        path,
        {"documents": spark.createDataFrame(
            [(other, "OTHERv2")], "doc_id long, text string")},
        set_cols={"documents": ["text"]},
        base_token=m0["token"],
    )
    assert m2["seq"] == 2
    d = {r.doc_id: r.text for r in read_versioned_db(spark, path, "documents").collect()}
    assert d[7] == "DOC7v2" and d[other] == "OTHERv2"  # both survived

    # stale transaction overlapping table 'documents' bucket -> conflict
    with _pytest.raises(ConcurrentMergeError):
        merge_into_versioned_db(
            spark,
            path,
            {"documents": spark.createDataFrame(
                [(same, "STALE")], "doc_id long, text string")},
            set_cols={"documents": ["text"]},
            base_token=m0["token"],
        )

    # vacuum: old transactions age out per table; current still reads
    removed = vacuum_versioned_db(path, keep_last=1)
    assert all(r.split("/")[0] in ("documents", "embeddings") for r in removed)
    assert read_versioned_db(spark, path, "documents").count() == 80
    with _pytest.raises(FileNotFoundError):
        read_versioned_db(spark, path, "documents", token=m0["token"])


def test_optimize_versioned_compacts_multi_file_buckets(spark, tmp_path):
    """OPTIMIZE twin: buckets holding many small part files (the
    residue of a wide-parallelism write) compact to one file each
    under a new chain commit; data is byte-identical, untouched
    buckets keep their generation, and time travel still reaches the
    pre-compaction layout."""
    import os

    from pyspark.sql import functions as F

    from amaxa_spark.sources.catalog import (
        MERGE_BUCKET_COL,
        optimize_versioned,
        read_versioned_table,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_opt")
    # 16 input partitions -> each bucket dir collects many part files
    base = (
        spark.range(400)
        .repartition(16)
        .select(F.col("id").alias("pk"), (F.col("id") * 3).alias("v"))
    )
    m0 = write_versioned_table(base, path, pk="pk", n_buckets=4)

    def files_per_bucket(manifest):
        out = {}
        for b, gen in manifest["buckets"].items():
            d = os.path.join(path, gen, f"{MERGE_BUCKET_COL}={b}")
            out[int(b)] = sum(
                1 for f in os.listdir(d)
                if f.endswith(".parquet") and not f.startswith(".")
            )
        return out

    before = files_per_bucket(m0)
    assert max(before.values()) > 1  # the premise: fragmented buckets

    m1, compacted = optimize_versioned(spark, path, max_files=1)
    assert sorted(compacted) == sorted(
        b for b, n in before.items() if n > 1
    )
    after = files_per_bucket(m1)
    assert all(n == 1 for b, n in after.items() if b in compacted)
    assert m1["seq"] == m0["seq"] + 1
    # data identical
    got = {r.pk: r.v for r in read_versioned_table(spark, path).collect()}
    assert got == {i: i * 3 for i in range(400)}
    # pre-compaction snapshot still readable by token
    old = read_versioned_table(spark, path, token=m0["token"])
    assert old.count() == 400
    # idempotent: nothing left to compact
    m2, again = optimize_versioned(spark, path, max_files=1)
    assert again == [] and m2["seq"] == m1["seq"]


def test_versioned_alter_add_column_is_metadata_only(spark, tmp_path):
    """Schema evolution: ALTER adds a column as a metadata-only chain
    commit (zero parquet rewrites) — readers materialize the default
    immediately, the next merge persists it physically for the buckets
    it touches while untouched buckets keep coalescing, compaction
    preserves persisted values across mixed-schema generations, and
    pre-alter snapshots time-travel with the OLD schema."""
    import os

    from pyspark.sql import functions as F

    from amaxa_spark.sources.catalog import (
        alter_versioned_add_columns,
        merge_into_versioned,
        optimize_versioned,
        read_versioned_table,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_alter")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "pk long, val string"
    )
    m0 = write_versioned_table(base, path, pk="pk", n_buckets=4)

    def all_files():
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    full = os.path.join(root, f)
                    out[full] = os.path.getmtime(full)
        return out

    before = all_files()
    m1 = alter_versioned_add_columns(
        path, {"quality": ("double", 1.0), "tag": ("string", None)}
    )
    assert m1["seq"] == m0["seq"] + 1
    assert all_files() == before  # METADATA-ONLY: no file touched
    df = read_versioned_table(spark, path)
    assert {"quality", "tag"} <= set(df.columns)
    rows = {r.pk: (r.quality, r.tag) for r in df.collect()}
    assert rows[5] == (1.0, None) and len(rows) == 100

    # merge persists the added column for its bucket; others still fill
    m2 = merge_into_versioned(
        spark,
        path,
        spark.createDataFrame([(5, 0.25)], "pk long, quality double"),
        pk="pk",
        set_cols=["quality"],
    )
    assert m2["added_columns"] == m1["added_columns"]  # survives merges
    rows = {r.pk: r.quality for r in read_versioned_table(spark, path).collect()}
    assert rows[5] == 0.25 and rows[6] == 1.0
    # the rewritten generation physically contains the column
    new_gens = {g for g in m2["buckets"].values()} - {
        g for g in m0["buckets"].values()
    }
    (new_gen,) = new_gens
    raw = spark.read.parquet(os.path.join(path, new_gen))
    assert "quality" in raw.columns

    # compaction across mixed-schema generations keeps persisted values
    _m3, _compacted = optimize_versioned(spark, path, max_files=1)
    rows = {r.pk: r.quality for r in read_versioned_table(spark, path).collect()}
    assert rows[5] == 0.25 and rows[6] == 1.0 and len(rows) == 100

    # pre-alter snapshot: old schema, no synthetic columns
    old = read_versioned_table(spark, path, token=m0["token"])
    assert "quality" not in old.columns and old.count() == 100

    # ALTER validates up front — a bad commit must never poison reads
    import pytest as _pytest

    with _pytest.raises(ValueError, match="invalid Spark type"):
        alter_versioned_add_columns(path, {"bad": ("duble", 1.0)})
    with _pytest.raises(ValueError, match="already an added column"):
        alter_versioned_add_columns(path, {"quality": ("double", 2.0)})
    with _pytest.raises(ValueError, match="already exists in the table"):
        alter_versioned_add_columns(path, {"val": ("string", "x")}, spark=spark)
    # the physical-collision check is MANDATORY: without a session it
    # reads a parquet footer directly — adding an already-physical
    # column must fail here too, or every future read would silently
    # rewrite that column's genuine NULLs to the default
    with _pytest.raises(ValueError, match="already exists in the table"):
        alter_versioned_add_columns(path, {"val": ("string", "x")})
    from amaxa_spark.sources.catalog import MERGE_BUCKET_COL

    with _pytest.raises(ValueError, match="reserved"):
        alter_versioned_add_columns(path, {MERGE_BUCKET_COL: ("int", 0)})
    # none of the rejected alters committed anything
    assert read_versioned_table(spark, path).count() == 100


def test_versioned_merge_insert_unmatched(spark, tmp_path):
    """MERGE WHEN NOT MATCHED THEN INSERT: unmatched keys become new
    rows (pk + set_cols, NULL elsewhere), landing in their pk-hash
    buckets — including buckets the manifest has never seen; default
    mode still drops them; ALTER-added defaults apply to inserts."""
    from pyspark.sql import functions as F

    from amaxa_spark.sources.catalog import (
        alter_versioned_add_columns,
        merge_into_versioned,
        read_versioned_table,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_insert")
    base = spark.createDataFrame(
        [(0, "old", 1.5)], "pk long, val string, score double"
    )
    m0 = write_versioned_table(base, path, pk="pk", n_buckets=8)
    assert len(m0["buckets"]) == 1  # one row -> one bucket present

    upd = spark.createDataFrame(
        [(0, "upd")] + [(i, f"new{i}") for i in range(1, 20)],
        "pk long, val string",
    )
    m1 = merge_into_versioned(
        spark, path, upd, pk="pk", set_cols=["val"], not_matched="insert"
    )
    rows = {r.pk: (r.val, r.score) for r in read_versioned_table(spark, path).collect()}
    assert rows[0] == ("upd", 1.5)  # matched: updated, others kept
    assert rows[7] == ("new7", None)  # inserted: unspecified cols NULL
    assert len(rows) == 20
    assert len(m1["buckets"]) > 1  # brand-new buckets were created
    # pre-insert snapshot time-travels without the new keys
    assert read_versioned_table(spark, path, token=m0["token"]).count() == 1

    # default (update-only) mode still drops unmatched keys
    merge_into_versioned(
        spark,
        path,
        spark.createDataFrame([(999, "x")], "pk long, val string"),
        pk="pk",
        set_cols=["val"],
    )
    assert read_versioned_table(spark, path).count() == 20

    # inserts after an ALTER read the added column's default
    alter_versioned_add_columns(path, {"lang": ("string", "en")})
    merge_into_versioned(
        spark,
        path,
        spark.createDataFrame([(100, "later")], "pk long, val string"),
        pk="pk",
        set_cols=["val"],
        not_matched="insert",
    )
    got = (
        read_versioned_table(spark, path)
        .where(F.col("pk") == 100)
        .select("val", "lang", "score")
        .collect()
    )
    assert [tuple(r) for r in got] == [("later", "en", None)]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not_matched"):
        merge_into_versioned(
            spark, path, upd, pk="pk", set_cols=["val"], not_matched="upsert"
        )


def test_latest_per_key_default_tiebreak_is_deterministic(spark):
    """Equal order_col values must reduce to the SAME row on every
    evaluation (foreachBatch retries re-run the reduction): without an
    explicit tiebreak the order falls back to all remaining columns."""
    from amaxa_spark.streaming.merge_stream import latest_per_key

    batch = spark.createDataFrame(
        [(1, "a", 7), (1, "b", 7), (1, "c", 3), (2, "x", 1)],
        "pk long, val string, ver long",
    )
    for _ in range(3):
        got = {
            r.pk: r.val
            for r in latest_per_key(batch, "pk", "ver").collect()
        }
        assert got == {1: "b", 2: "x"}  # max ver, then max val


# fast default siblings: test_streaming_cdc_replication,
# test_streaming_auto_optimize (same merge_stream sink)
@pytest.mark.slow
def test_streaming_upsert_commits_one_merge_per_batch(spark, tmp_path):
    """Streaming upsert sink: each micro-batch reduces to last-write-
    wins per key and lands as ONE atomic chain commit; replaying a
    batch (at-least-once delivery) is idempotent on the data; and a
    real foreachBatch stream drives the same path end to end."""
    from pyspark.sql import functions as F

    from amaxa_spark.sources.catalog import (
        read_versioned_table,
        write_versioned_table,
    )
    from amaxa_spark.streaming.merge_stream import (
        merge_stream_writer,
        upsert_batch,
    )

    path = str(tmp_path / "vt_stream")
    base = spark.createDataFrame(
        [(i, "old", 0) for i in range(50)], "pk long, val string, ver long"
    )
    m0 = write_versioned_table(base, path, pk="pk", n_buckets=4)

    # batch 1: two updates for pk 3 — the later (ver 2) must win
    b1 = spark.createDataFrame(
        [(3, "first", 1), (3, "second", 2), (7, "b1", 1)],
        "pk long, val string, ver long",
    )
    m1 = upsert_batch(spark, path, b1, "pk", ["val", "ver"], order_col="ver")
    assert m1["seq"] == m0["seq"] + 1
    got = {r.pk: r.val for r in read_versioned_table(spark, path).collect()}
    assert got[3] == "second" and got[7] == "b1" and got[0] == "old"

    # batch 2, then a REPLAY of batch 2: data unchanged (idempotent)
    b2 = spark.createDataFrame([(11, "b2", 3)], "pk long, val string, ver long")
    m2 = upsert_batch(spark, path, b2, "pk", ["val", "ver"], order_col="ver")
    m2r = upsert_batch(spark, path, b2, "pk", ["val", "ver"], order_col="ver")
    assert m2r["seq"] == m2["seq"] + 1
    got = {r.pk: r.val for r in read_versioned_table(spark, path).collect()}
    assert got[11] == "b2" and len(got) == 50
    # empty batch commits nothing
    empty = spark.createDataFrame([], "pk long, val string, ver long")
    assert upsert_batch(spark, path, empty, "pk", ["val"], order_col="ver") is None

    # real stream: file source -> foreachBatch -> versioned merge
    src = str(tmp_path / "stream_src")
    spark.createDataFrame(
        [(21, "streamed", 9)], "pk long, val string, ver long"
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("pk long, val string, ver long").parquet(src)
    q = (
        merge_stream_writer(
            stream, path, "pk", ["val", "ver"], order_col="ver",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.pk: r.val for r in read_versioned_table(spark, path).collect()}
    assert got[21] == "streamed" and len(got) == 50

    # exactly-once: with a stream_id, the batchId rides in the SAME
    # commit as the data, so a replay of a committed id is SKIPPED
    # (not merely idempotent) and an independent stream's progress
    # survives in the same manifest
    from amaxa_spark.sources.catalog import _bucket_manifest

    b3 = spark.createDataFrame([(31, "eo1", 1)], "pk long, val string, ver long")
    m = upsert_batch(
        spark, path, b3, "pk", ["val", "ver"], order_col="ver",
        stream_id="s1", batch_id=0,
    )
    assert m["streams"] == {"s1": 0}
    seq_after = m["seq"]
    # replay of batch 0 -> skipped, no commit
    assert upsert_batch(
        spark, path, b3, "pk", ["val", "ver"], order_col="ver",
        stream_id="s1", batch_id=0,
    ) is None
    assert _bucket_manifest(path)["seq"] == seq_after
    # a second stream's progress merges alongside the first
    b4 = spark.createDataFrame([(32, "eo2", 1)], "pk long, val string, ver long")
    m = upsert_batch(
        spark, path, b4, "pk", ["val", "ver"], order_col="ver",
        stream_id="s2", batch_id=5,
    )
    assert m["streams"] == {"s1": 0, "s2": 5}
    # next batch of stream 1 advances its own marker only
    b5 = spark.createDataFrame([(31, "eo3", 2)], "pk long, val string, ver long")
    m = upsert_batch(
        spark, path, b5, "pk", ["val", "ver"], order_col="ver",
        stream_id="s1", batch_id=1,
    )
    assert m["streams"] == {"s1": 1, "s2": 5}
    got = {r.pk: r.val for r in read_versioned_table(spark, path).collect()}
    assert got[31] == "eo3" and got[32] == "eo2"

    # failover TOCTOU: a STALE writer that passed the pre-check but
    # commits AFTER a newer batch must be refused inside the commit
    # loop (its rebase would regress data and marker). Simulate by
    # merging from a pinned old snapshot with an old batch id.
    import pytest as _pytest

    from amaxa_spark.sources.catalog import (
        StaleStreamBatch,
        merge_into_versioned,
    )

    old_token = m["token"]
    b6 = spark.createDataFrame([(31, "eo4", 3)], "pk long, val string, ver long")
    m = upsert_batch(
        spark, path, b6, "pk", ["val", "ver"], order_col="ver",
        stream_id="s1", batch_id=2,
    )
    with _pytest.raises(StaleStreamBatch):
        merge_into_versioned(
            spark,
            path,
            spark.createDataFrame(
                [(31, "STALE", 99)], "pk long, val string, ver long"
            ).select("pk", "val", "ver"),
            pk="pk",
            set_cols=["val", "ver"],
            base_token=old_token,
            extra_meta={"streams": {"s1": 1}},  # <= committed marker 2
        )
    got = {r.pk: r.val for r in read_versioned_table(spark, path).collect()}
    assert got[31] == "eo4"  # newer batch survived

    # rebase branch merges ANOTHER stream's marker instead of
    # clobbering: commit from the old snapshot (forces the
    # FileExistsError path) with a fresh stream id
    m = merge_into_versioned(
        spark,
        path,
        spark.createDataFrame([(33, "eo5", 1)], "pk long, val string, ver long"),
        pk="pk",
        set_cols=["val", "ver"],
        base_token=old_token,
        extra_meta={"streams": {"s3": 7}},
    )
    assert m["streams"] == {"s1": 2, "s2": 5, "s3": 7}

    # update-only mode: a marker-bearing batch whose keys hash outside
    # the table still commits its marker (metadata-only commit) and
    # the unmatched key is dropped by design
    none_match = spark.createDataFrame(
        [(999999, "x", 1)], "pk long, val string, ver long"
    )
    m = upsert_batch(
        spark, path, none_match, "pk", ["val", "ver"], order_col="ver",
        stream_id="s1", batch_id=3, not_matched="ignore",
    )
    assert m is not None and m["streams"]["s1"] == 3
    assert read_versioned_table(spark, path).count() == 50

    # default mode is a TRUE upsert: the same brand-new key INSERTS
    # (pk + set_cols, NULL elsewhere) instead of vanishing
    m = upsert_batch(
        spark, path, none_match, "pk", ["val", "ver"], order_col="ver",
        stream_id="s1", batch_id=4,
    )
    assert m is not None and m["streams"]["s1"] == 4
    inserted = (
        read_versioned_table(spark, path).where(F.col("pk") == 999999).collect()
    )
    assert len(inserted) == 1 and inserted[0].val == "x"
    assert read_versioned_table(spark, path).count() == 51

    # full-rewrite re-init PRESERVES stream markers, so a restarting
    # query cannot replay stale micro-batches onto the new baseline
    fresh = spark.createDataFrame([(1, "fresh", 0)], "pk long, val string, ver long")
    m = write_versioned_table(fresh, path, pk="pk", n_buckets=4)
    assert m["streams"] == {"s1": 4, "s2": 5, "s3": 7}
    assert upsert_batch(
        spark, path, b6, "pk", ["val", "ver"], order_col="ver",
        stream_id="s1", batch_id=2,
    ) is None  # stale replay still skipped after re-init


def test_optimize_versioned_db_compacts_across_tables(spark, tmp_path):
    """The db OPTIMIZE twin: fragmented buckets of EVERY table compact
    one-file-per-bucket in ONE transaction; data identical, old
    transaction still time-travels, idempotent re-run commits
    nothing."""
    import os

    from pyspark.sql import functions as F

    from amaxa_spark.sources.catalog import (
        MERGE_BUCKET_COL,
        optimize_versioned_db,
        read_versioned_db,
        write_versioned_db,
    )

    path = str(tmp_path / "db_opt")
    docs = (
        spark.range(200)
        .repartition(16)
        .select(F.col("id").alias("doc_id"), (F.col("id") * 2).alias("x"))
    )
    embs = (
        spark.range(100)
        .repartition(16)
        .select(F.col("id").alias("vec_id"), (F.col("id") * 5).alias("y"))
    )
    m0 = write_versioned_db(
        spark, path, {"documents": docs, "embeddings": embs},
        pks={"documents": "doc_id", "embeddings": "vec_id"}, n_buckets=4,
    )

    def files(name, manifest):
        t = manifest["tables"][name]
        return {
            int(b): sum(
                1
                for f in os.listdir(
                    os.path.join(path, name, g, f"{MERGE_BUCKET_COL}={b}")
                )
                if f.endswith(".parquet") and not f.startswith(".")
            )
            for b, g in t["buckets"].items()
        }

    assert max(files("documents", m0).values()) > 1
    m1, compacted = optimize_versioned_db(spark, path, max_files=1)
    assert m1["seq"] == m0["seq"] + 1
    assert any(c.startswith("documents/") for c in compacted)
    assert any(c.startswith("embeddings/") for c in compacted)
    for name in ("documents", "embeddings"):
        post = files(name, m1)
        for c in compacted:
            t, b = c.split("/")
            if t == name:
                assert post[int(b)] == 1
    d = {r.doc_id: r.x for r in read_versioned_db(spark, path, "documents").collect()}
    assert d == {i: i * 2 for i in range(200)}
    e = {r.vec_id: r.y for r in read_versioned_db(spark, path, "embeddings").collect()}
    assert e == {i: i * 5 for i in range(100)}
    assert read_versioned_db(
        spark, path, "documents", token=m0["token"]
    ).count() == 200
    m2, again = optimize_versioned_db(spark, path, max_files=1)
    assert again == [] and m2["seq"] == m1["seq"]


def test_versioned_db_alter_add_column_is_metadata_only(spark, tmp_path):
    """The db ALTER twin: adding columns to ONE table of a versioned
    database is a metadata-only transaction — zero parquet rewrites,
    defaults materialize at read time, OTHER tables are untouched, the
    next transactional merge persists the column physically, db
    OPTIMIZE preserves it across mixed-schema generations, pre-alter
    transactions time-travel with the old schema, and validation
    (session or footer path) rejects bad alters before anything
    commits."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from amaxa_spark.sources.catalog import (
        MERGE_BUCKET_COL,
        alter_versioned_db_add_columns,
        merge_into_versioned_db,
        optimize_versioned_db,
        read_versioned_db,
        write_versioned_db,
    )

    path = str(tmp_path / "db_alter")
    docs = (
        spark.range(100)
        .repartition(8)  # fragmented buckets for the OPTIMIZE leg
        .select(F.col("id").alias("doc_id"), F.concat(F.lit("t"), "id").alias("text"))
    )
    embs = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "vec_id long, vec string"
    )
    m0 = write_versioned_db(
        spark, path,
        {"documents": docs, "embeddings": embs},
        pks={"documents": "doc_id", "embeddings": "vec_id"},
        n_buckets=4,
    )

    def all_files():
        out = {}
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    full = os.path.join(root, f)
                    out[full] = os.path.getmtime(full)
        return out

    before = all_files()
    m1 = alter_versioned_db_add_columns(
        path, "documents", {"quality": ("double", 1.0), "tag": ("string", None)}
    )
    assert m1["seq"] == m0["seq"] + 1
    assert all_files() == before  # METADATA-ONLY: no file touched
    d = read_versioned_db(spark, path, "documents")
    rows = {r.doc_id: (r.quality, r.tag) for r in d.collect()}
    assert rows[5] == (1.0, None) and len(rows) == 100
    # the OTHER table's schema is untouched by the per-table alter
    assert "quality" not in read_versioned_db(spark, path, "embeddings").columns

    # a transactional merge persists the column for its buckets AND
    # the alter metadata survives the commit
    m2 = merge_into_versioned_db(
        spark, path,
        {"documents": spark.createDataFrame([(5, 0.25)], "doc_id long, quality double")},
        set_cols={"documents": ["quality"]},
    )
    assert m2["tables"]["documents"]["added_columns"] == \
        m1["tables"]["documents"]["added_columns"]
    rows = {
        r.doc_id: r.quality
        for r in read_versioned_db(spark, path, "documents").collect()
    }
    assert rows[5] == 0.25 and rows[6] == 1.0

    # db OPTIMIZE compacts across the mixed-schema generations without
    # dropping the physically-persisted column
    _m3, compacted = optimize_versioned_db(spark, path, max_files=1)
    assert compacted  # the fragmented premise held
    rows = {
        r.doc_id: r.quality
        for r in read_versioned_db(spark, path, "documents").collect()
    }
    assert rows[5] == 0.25 and rows[6] == 1.0 and len(rows) == 100

    # pre-alter transaction: old schema via time travel
    old = read_versioned_db(spark, path, "documents", token=m0["token"])
    assert "quality" not in old.columns and old.count() == 100

    # validation: bad type, redefinition, physical collision (session
    # AND footer paths), reserved name, unknown table — nothing commits
    with _pytest.raises(ValueError, match="invalid Spark type"):
        alter_versioned_db_add_columns(path, "documents", {"bad": ("duble", 1)})
    with _pytest.raises(ValueError, match="already an added column"):
        alter_versioned_db_add_columns(path, "documents", {"quality": ("double", 2.0)})
    with _pytest.raises(ValueError, match="already exists in the table"):
        alter_versioned_db_add_columns(
            path, "documents", {"text": ("string", "x")}, spark=spark
        )
    with _pytest.raises(ValueError, match="already exists in the table"):
        alter_versioned_db_add_columns(path, "documents", {"text": ("string", "x")})
    with _pytest.raises(ValueError, match="reserved"):
        alter_versioned_db_add_columns(path, "documents", {MERGE_BUCKET_COL: ("int", 0)})
    with _pytest.raises(ValueError, match="no table"):
        alter_versioned_db_add_columns(path, "nope", {"c": ("int", 0)})
    assert read_versioned_db(spark, path, "documents").count() == 100


# fast default siblings: test_streaming_cdc_replication,
# test_versioned_db_transactions_span_tables (db-layout commit path)
@pytest.mark.slow
def test_streaming_db_upsert_transactional_exactly_once(spark, tmp_path):
    """The db streaming twin: one micro-batch routed across BOTH
    tables lands as ONE transaction (single seq), replay is skipped
    via the db-level stream marker committed atomically with every
    table's data, a stale failed-over writer is refused inside the
    commit loop, unmatched keys insert by default, and markers plus
    per-table alter metadata survive a full-rewrite re-init."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from amaxa_spark.sources.catalog import (
        StaleStreamBatch,
        _db_manifest,
        alter_versioned_db_add_columns,
        merge_into_versioned_db,
        read_versioned_db,
        write_versioned_db,
    )
    from amaxa_spark.streaming.merge_stream import (
        merge_stream_db_writer,
        upsert_db_batch,
    )

    path = str(tmp_path / "db_stream")
    docs = spark.createDataFrame(
        [(i, "old", 0) for i in range(40)], "doc_id long, text string, ver long"
    )
    embs = spark.createDataFrame(
        [(i, "old", 0) for i in range(40)], "vec_id long, vec string, ver long"
    )
    m0 = write_versioned_db(
        spark, path,
        {"documents": docs, "embeddings": embs},
        pks={"documents": "doc_id", "embeddings": "vec_id"},
        n_buckets=4,
    )

    # batch 0 touches BOTH tables -> exactly ONE new seq, marker rides
    b_docs = spark.createDataFrame(
        [(3, "d-first", 1), (3, "d-second", 2), (7, "d0", 1)],
        "doc_id long, text string, ver long",
    )
    b_embs = spark.createDataFrame(
        [(11, "e0", 1)], "vec_id long, vec string, ver long"
    )
    m1 = upsert_db_batch(
        spark, path,
        {"documents": b_docs, "embeddings": b_embs},
        set_cols={"documents": ["text", "ver"], "embeddings": ["vec", "ver"]},
        order_col="ver", stream_id="s1", batch_id=0,
    )
    assert m1["seq"] == m0["seq"] + 1 and m1["streams"] == {"s1": 0}
    got_d = {r.doc_id: r.text for r in read_versioned_db(spark, path, "documents").collect()}
    got_e = {r.vec_id: r.vec for r in read_versioned_db(spark, path, "embeddings").collect()}
    assert got_d[3] == "d-second" and got_d[7] == "d0" and got_e[11] == "e0"

    # replay of batch 0 -> skipped by the pre-check, no commit
    assert upsert_db_batch(
        spark, path,
        {"documents": b_docs, "embeddings": b_embs},
        set_cols={"documents": ["text", "ver"], "embeddings": ["vec", "ver"]},
        order_col="ver", stream_id="s1", batch_id=0,
    ) is None
    assert _db_manifest(path)["seq"] == m1["seq"]

    # all-empty batch commits nothing, marker included
    empty = spark.createDataFrame([], "doc_id long, text string, ver long")
    assert upsert_db_batch(
        spark, path, {"documents": empty},
        set_cols={"documents": ["text", "ver"]},
        order_col="ver", stream_id="s1", batch_id=1,
    ) is None

    # insert by default: a brand-new key in one table lands in the
    # same transaction as an update in the other
    b2_docs = spark.createDataFrame(
        [(999, "new-doc", 1)], "doc_id long, text string, ver long"
    )
    b2_embs = spark.createDataFrame(
        [(11, "e1", 2)], "vec_id long, vec string, ver long"
    )
    m2 = upsert_db_batch(
        spark, path,
        {"documents": b2_docs, "embeddings": b2_embs},
        set_cols={"documents": ["text", "ver"], "embeddings": ["vec", "ver"]},
        order_col="ver", stream_id="s1", batch_id=2,
    )
    assert m2["streams"]["s1"] == 2
    d = read_versioned_db(spark, path, "documents")
    assert d.count() == 41
    assert d.where(F.col("doc_id") == 999).collect()[0].text == "new-doc"
    assert read_versioned_db(spark, path, "embeddings").count() == 40

    # update-only mode still drops unmatched keys but commits the marker
    m3 = upsert_db_batch(
        spark, path,
        {"documents": spark.createDataFrame(
            [(888888, "x", 1)], "doc_id long, text string, ver long"
        )},
        set_cols={"documents": ["text", "ver"]},
        order_col="ver", stream_id="s1", batch_id=3, not_matched="ignore",
    )
    assert m3 is not None and m3["streams"]["s1"] == 3
    assert read_versioned_db(spark, path, "documents").count() == 41

    # failover TOCTOU: a stale writer committing from an old snapshot
    # with an already-committed marker is refused INSIDE the commit
    # loop, whichever tables it touches
    with _pytest.raises(StaleStreamBatch):
        merge_into_versioned_db(
            spark, path,
            {"documents": spark.createDataFrame(
                [(3, "STALE", 99)], "doc_id long, text string, ver long"
            ).select("doc_id", "text", "ver")},
            set_cols={"documents": ["text", "ver"]},
            base_token=m1["token"],
            extra_meta={"streams": {"s1": 2}},  # <= committed marker 3
        )
    got_d = {r.doc_id: r.text for r in read_versioned_db(spark, path, "documents").collect()}
    assert got_d[3] == "d-second"  # stale data never landed

    # a real stream: one source routed to both tables, one transaction
    # per micro-batch via foreachBatch
    src = str(tmp_path / "db_stream_src")
    spark.createDataFrame(
        [("documents", 21, "streamed", 9), ("embeddings", 22, "streamed", 9)],
        "target string, key long, val string, ver long",
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "target string, key long, val string, ver long"
    ).parquet(src)

    def route(batch):
        return {
            "documents": batch.where(F.col("target") == "documents").select(
                F.col("key").alias("doc_id"), F.col("val").alias("text"), "ver"
            ),
            "embeddings": batch.where(F.col("target") == "embeddings").select(
                F.col("key").alias("vec_id"), F.col("val").alias("vec"), "ver"
            ),
        }

    q = (
        merge_stream_db_writer(
            stream, path, route,
            set_cols={"documents": ["text", "ver"], "embeddings": ["vec", "ver"]},
            order_col="ver",
            checkpoint_dir=str(tmp_path / "db_ckpt"),
            stream_id="s2",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got_d = {r.doc_id: r.text for r in read_versioned_db(spark, path, "documents").collect()}
    got_e = {r.vec_id: r.vec for r in read_versioned_db(spark, path, "embeddings").collect()}
    assert got_d[21] == "streamed" and got_e[22] == "streamed"
    assert _db_manifest(path)["streams"]["s2"] == 0

    # full-rewrite re-init PRESERVES stream markers and per-table
    # alter metadata (live streams keep skipping; their set_cols may
    # target added columns)
    alter_versioned_db_add_columns(path, "documents", {"lang": ("string", "en")})
    m = write_versioned_db(
        spark, path,
        {"documents": docs, "embeddings": embs},
        pks={"documents": "doc_id", "embeddings": "vec_id"},
        n_buckets=4,
    )
    assert m["streams"] == {"s1": 3, "s2": 0}
    assert "lang" in m["tables"]["documents"].get("added_columns", {})
    assert upsert_db_batch(
        spark, path, {"documents": b2_docs},
        set_cols={"documents": ["text", "ver"]},
        order_col="ver", stream_id="s1", batch_id=3,
    ) is None  # stale replay still skipped after re-init


def test_export_snapshot_readable_by_external_engine(spark, tmp_path):
    """External-engine export: a versioned snapshot becomes a plain
    parquet directory DuckDB reads with no library involved, and the
    rows hash-match read_versioned_table exactly. Zero-copy exports
    survive a vacuum of their source generations (hard links); tables
    with metadata-only ALTER columns refuse a raw export and
    materialize the defaults instead; time-travel exports replay old
    tokens; the db variant exports one cross-table-consistent
    transaction."""
    import hashlib
    import os

    import duckdb
    import pytest as _pytest

    from amaxa_spark.sources.catalog import (
        alter_versioned_add_columns,
        export_db_snapshot,
        export_snapshot,
        merge_into_versioned,
        read_versioned_table,
        vacuum_versioned,
        write_versioned_db,
        write_versioned_table,
    )

    def value_hash(rows):
        # check_correctness-style: sort rows, stringify, sha256
        canon = sorted(tuple(str(v) for v in r) for r in rows)
        return hashlib.sha256(str(canon).encode()).hexdigest()

    path = str(tmp_path / "vt_exp")
    base = spark.createDataFrame(
        [(i, f"v{i}", i * 0.5) for i in range(200)],
        "pk long, val string, score double",
    )
    m0 = write_versioned_table(base, path, pk="pk", n_buckets=8)
    m1 = merge_into_versioned(
        spark, path,
        spark.createDataFrame([(5, "merged")], "pk long, val string"),
        pk="pk", set_cols=["val"],
    )

    out = str(tmp_path / "exp_head")
    rec = export_snapshot(path, out)
    assert rec["mode"] == "linked" and rec["token"] == m1["token"]
    con = duckdb.connect()
    ext = con.execute(
        f"SELECT pk, val, score FROM read_parquet('{out}/*.parquet')"
    ).fetchall()
    eng = [
        (r.pk, r.val, r.score)
        for r in read_versioned_table(spark, path)
        .select("pk", "val", "score").collect()
    ]
    assert value_hash(ext) == value_hash(eng)
    assert dict((p, v) for p, v, _ in ext)[5] == "merged"

    # time travel: exporting the PRE-merge token replays the old rows
    out0 = str(tmp_path / "exp_t0")
    export_snapshot(path, out0, token=m0["token"])
    old = con.execute(
        f"SELECT val FROM read_parquet('{out0}/*.parquet') WHERE pk = 5"
    ).fetchone()
    assert old == ("v5",)

    # fully supersede the exported generations (re-init rewrite), then
    # vacuum them: the exports' hard links keep the bytes alive even
    # though every source directory they came from is gone
    write_versioned_table(base, path, pk="pk", n_buckets=8)
    removed = vacuum_versioned(path, keep_last=0)
    assert removed  # the exported generations were reclaimed
    assert con.execute(
        f"SELECT count(*) FROM read_parquet('{out0}/*.parquet')"
    ).fetchone() == (200,)
    assert con.execute(
        f"SELECT val FROM read_parquet('{out}/*.parquet') WHERE pk = 5"
    ).fetchone() == ("merged",)

    # ALTER-ed table: raw export would lose the metadata-only column —
    # refused without spark, materialized with it
    alter_versioned_add_columns(path, {"lang": ("string", "en")})
    with _pytest.raises(ValueError, match="materialize"):
        export_snapshot(path, str(tmp_path / "exp_refused"))
    out_m = str(tmp_path / "exp_mat")
    rec = export_snapshot(path, out_m, spark=spark)
    assert rec["mode"] == "materialized"
    got = con.execute(
        f"SELECT DISTINCT lang FROM read_parquet('{out_m}/*.parquet')"
    ).fetchall()
    assert got == [("en",)]
    assert con.execute(
        f"SELECT count(*) FROM read_parquet('{out_m}/*.parquet')"
    ).fetchone() == (200,)

    # db export: both tables come from ONE transaction manifest
    db = str(tmp_path / "db_exp")
    write_versioned_db(
        spark, db,
        {
            "a": spark.createDataFrame([(1, "x")], "pk long, v string"),
            "b": spark.createDataFrame([(2, "y")], "pk long, v string"),
        },
        pks={"a": "pk", "b": "pk"},
        n_buckets=2,
    )
    out_db = str(tmp_path / "exp_db")
    rec = export_db_snapshot(db, out_db)
    assert set(rec["tables"]) == {"a", "b"}
    assert con.execute(
        f"SELECT pk, v FROM read_parquet('{out_db}/a/*.parquet')"
    ).fetchall() == [(1, "x")]
    assert con.execute(
        f"SELECT pk, v FROM read_parquet('{out_db}/b/*.parquet')"
    ).fetchall() == [(2, "y")]
    # provenance sidecar exists in every export
    for d in (out, out0, out_m, out_db):
        assert os.path.exists(os.path.join(d, "_EXPORT.json"))


def test_merge_insert_null_keys_and_empty_table_bootstrap(spark, tmp_path):
    """Review fixes: NULL-pk rows never insert (they'd accumulate one
    orphan per replayed batch — SQL MERGE's ON equality never matches
    NULL either), and a zero-bucket table (empty-frame init) accepts
    its first insert-mode merge by bootstrapping the schema from the
    updates frame."""
    from pyspark.sql import functions as F

    from amaxa_spark.sources.catalog import (
        merge_into_versioned,
        read_versioned_table,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_null")
    write_versioned_table(
        spark.createDataFrame([(1, "a")], "pk long, v string"),
        path, pk="pk", n_buckets=4,
    )
    upd = spark.createDataFrame(
        [(None, "ghost"), (1, "A"), (2, "b")], "pk long, v string"
    )
    for _ in range(2):  # replay: NULL row must not accumulate
        merge_into_versioned(
            spark, path, upd, pk="pk", set_cols=["v"], not_matched="insert"
        )
    rows = sorted(
        (r.pk, r.v) for r in read_versioned_table(spark, path).collect()
    )
    assert rows == [(1, "A"), (2, "b")]  # no NULL-pk orphans

    # zero-bucket bootstrap: empty init, then a pure-insert stream
    empty_path = str(tmp_path / "vt_empty")
    write_versioned_table(
        spark.createDataFrame([], "pk long, v string"),
        empty_path, pk="pk", n_buckets=4,
    )
    m = merge_into_versioned(
        spark, empty_path,
        spark.createDataFrame([(7, "first")], "pk long, v string"),
        pk="pk", set_cols=["v"], not_matched="insert",
    )
    assert m["buckets"]  # buckets now exist
    got = read_versioned_table(spark, empty_path).collect()
    assert [(r.pk, r.v) for r in got] == [(7, "first")]


def test_latest_per_key_skips_unorderable_map_columns(spark):
    """A map-typed column in the batch must not fail the stream: maps
    are not orderable, so the all-column tiebreak skips them."""
    from amaxa_spark.streaming.merge_stream import latest_per_key

    batch = spark.createDataFrame(
        [(1, "a", 3, {"k": "v"}), (1, "b", 7, {"k": "w"})],
        "pk long, val string, ver long, props map<string,string>",
    )
    got = latest_per_key(batch, "pk", "ver").collect()
    assert len(got) == 1 and got[0].val == "b"


def test_export_refusal_leaves_nothing_behind(spark, tmp_path):
    """A refused export (ALTER-ed table, no spark) must not create the
    output directory — a partial dir would block the corrected retry."""
    import os

    import pytest as _pytest

    from amaxa_spark.sources.catalog import (
        alter_versioned_db_add_columns,
        export_db_snapshot,
        write_versioned_db,
    )

    db = str(tmp_path / "db_refuse")
    write_versioned_db(
        spark, db,
        {
            "plain": spark.createDataFrame([(1, "x")], "pk long, v string"),
            "altered": spark.createDataFrame([(2, "y")], "pk long, v string"),
        },
        pks={"plain": "pk", "altered": "pk"},
        n_buckets=2,
    )
    alter_versioned_db_add_columns(db, "altered", {"lang": ("string", "en")})
    out = str(tmp_path / "refused_out")
    with _pytest.raises(ValueError, match="materialize"):
        export_db_snapshot(db, out)  # no spark -> refused up front
    assert not os.path.exists(out)
    # corrected retry succeeds into the SAME path
    rec = export_db_snapshot(db, out, spark=spark)
    assert rec["tables"]["altered"]["mode"] == "materialized"


def test_second_pass_review_fixes(spark, tmp_path):
    """Round-7 second review pass: nested/unorderable tiebreak columns
    never fail the stream (top-level maps get a deterministic
    entry-sort order), several NULL-pk update rows are no-ops rather
    than a duplicate-key abort, ALTER works on zero-bucket tables on
    both lookup paths, and such tables export as 'empty'."""
    from pyspark.sql import functions as F

    from amaxa_spark.sources.catalog import (
        alter_versioned_add_columns,
        export_snapshot,
        merge_into_versioned,
        read_versioned_table,
        write_versioned_table,
    )
    from amaxa_spark.streaming.merge_stream import latest_per_key

    # nested map (array<map>) is skipped; top-level map orders by its
    # sorted entries, deterministically
    batch = spark.createDataFrame(
        [
            (1, 1, {"k": "a"}, [{"x": "1"}]),
            (1, 1, {"k": "b"}, [{"x": "2"}]),
        ],
        "pk long, ver long, props map<string,string>, "
        "tags array<map<string,string>>",
    )
    for _ in range(3):
        got = latest_per_key(batch, "pk", "ver").collect()
        assert len(got) == 1 and got[0].props == {"k": "b"}  # max entries

    # several NULL-pk rows: ignored, not a duplicate-key abort
    path = str(tmp_path / "vt_nulls2")
    write_versioned_table(
        spark.createDataFrame([(1, "a")], "pk long, v string"),
        path, pk="pk", n_buckets=4,
    )
    merge_into_versioned(
        spark, path,
        spark.createDataFrame(
            [(None, "g1"), (None, "g2"), (1, "A")], "pk long, v string"
        ),
        pk="pk", set_cols=["v"], not_matched="insert",
    )
    assert [(r.pk, r.v) for r in read_versioned_table(spark, path).collect()] \
        == [(1, "A")]

    # zero-bucket table: ALTER succeeds via session AND footer paths,
    # the export is a clean 'empty', and — third-pass fix — the
    # collision check still holds against the manifest-recorded INIT
    # schema (no footer exists, but the logical columns are known)
    import pytest as _pytest

    empty = str(tmp_path / "vt_empty2")
    write_versioned_table(
        spark.createDataFrame([], "pk long, v string"),
        empty, pk="pk", n_buckets=4,
    )
    alter_versioned_add_columns(empty, {"a1": ("string", "x")}, spark=spark)
    alter_versioned_add_columns(empty, {"a2": ("string", "y")})  # footer path
    for col in ("pk", "v"):
        for sess in (spark, None):
            with _pytest.raises(ValueError, match="already exists"):
                alter_versioned_add_columns(
                    empty, {col: ("string", "z")}, spark=sess
                )
    rec = export_snapshot(empty, str(tmp_path / "empty_out"))
    assert rec["mode"] == "empty" and rec["files"] == []

    # calendar-interval columns are unorderable — skipped, not fatal
    iv = spark.sql(
        "SELECT 1L AS pk, 1L AS ver, 'a' AS val, "
        "make_interval(0, 1, 0, 0, 0, 0, 0) AS iv "
        "UNION ALL SELECT 1L, 1L, 'b', make_interval(0, 2, 0, 0, 0, 0, 0)"
    )
    # (collect only plain columns: CalendarIntervalType has no Python
    # representation — the point is the window itself must not fail)
    got = latest_per_key(iv, "pk", "ver").select("pk", "val").collect()
    assert len(got) == 1 and got[0].val == "b"  # val tiebreak still applies


def test_jpeg_non_jfif_component_ids_refused():
    """T.81 allows arbitrary component ids, but without the JFIF 1/2/3
    convention Cb and Cr are indistinguishable — the decoder must
    refuse (None), never guess and silently swap colors."""
    from amaxa_spark.operators import multimodal as MM

    good = bytearray(MM.encode_jpeg(MM.jpeg_expected_pixels(5)))
    sof = bytes(good).index(b"\xff\xc0")
    sos = bytes(good).index(b"\xff\xda")
    # rewrite component ids 1,2,3 -> 4,5,6 in SOF0 and SOS
    for off in (sof + 10, sof + 13, sof + 16):
        good[off] += 3
    for off in (sos + 5, sos + 7, sos + 9):
        good[off] += 3
    assert MM.decode_jpeg(bytes(good)) is None


def test_reinit_drops_materialized_added_columns(spark, tmp_path):
    """A full-rewrite re-init whose new baseline PHYSICALLY carries an
    ALTER-added column drops that column from the carried metadata —
    keeping it would coalesce the new data's genuine NULLs to the old
    default on every read. Added columns the new baseline does NOT
    carry still survive (live streams may target them)."""
    from amaxa_spark.sources.catalog import (
        alter_versioned_add_columns,
        read_versioned_table,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_reinit")
    write_versioned_table(
        spark.createDataFrame([(1, "a")], "pk long, v string"),
        path, pk="pk", n_buckets=4,
    )
    alter_versioned_add_columns(path, {"c": ("string", "x")})
    alter_versioned_add_columns(path, {"d": ("string", "dflt")})
    # new baseline materializes c (with a genuine NULL) but not d
    m = write_versioned_table(
        spark.createDataFrame(
            [(1, "a", None), (2, "b", "real")], "pk long, v string, c string"
        ),
        path, pk="pk", n_buckets=4,
    )
    assert set(m.get("added_columns", {})) == {"d"}  # c dropped, d kept
    rows = {r.pk: (r.c, r.d) for r in read_versioned_table(spark, path).collect()}
    assert rows[1] == (None, "dflt")  # genuine NULL survives; d defaults
    assert rows[2] == ("real", "dflt")


def test_alter_refuses_unverifiable_pre_schema_manifest(spark, tmp_path):
    """A zero-bucket manifest WITHOUT a recorded schema (pre-round-7
    format) cannot prove an added column is collision-free — the ALTER
    must refuse, not vacuously pass."""
    import json
    import os

    import pytest as _pytest

    from amaxa_spark.sources.catalog import (
        alter_versioned_add_columns,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_prer7")
    write_versioned_table(
        spark.createDataFrame([], "pk long, v string"),
        path, pk="pk", n_buckets=4,
    )
    # simulate the old manifest format: strip the recorded schema from
    # the chain head (the authority readers resolve through)
    cdir = os.path.join(path, ".commits")
    head = max(
        (f for f in os.listdir(cdir) if f.endswith(".json")),
        key=lambda f: int(f[:-5]),
    )
    with open(os.path.join(cdir, head)) as f:
        doc = json.load(f)
    doc.pop("columns", None)
    with open(os.path.join(cdir, head), "w") as f:
        json.dump(doc, f)
    for sess in (spark, None):
        with _pytest.raises(ValueError, match="cannot verify"):
            alter_versioned_add_columns(path, {"x": ("int", 0)}, spark=sess)


def test_db_reinit_drops_materialized_added_columns(spark, tmp_path):
    """The db-layout twin of the re-init materialized filter: a table
    whose new baseline physically carries an ALTER-added column drops
    it from the carried metadata; non-materialized ones survive."""
    from amaxa_spark.sources.catalog import (
        alter_versioned_db_add_columns,
        read_versioned_db,
        write_versioned_db,
    )

    path = str(tmp_path / "db_reinit")
    write_versioned_db(
        spark, path,
        {"t1": spark.createDataFrame([(1, "a")], "pk long, v string")},
        pks={"t1": "pk"}, n_buckets=4,
    )
    alter_versioned_db_add_columns(path, "t1", {"c": ("string", "x")})
    alter_versioned_db_add_columns(path, "t1", {"d": ("string", "dflt")})
    m = write_versioned_db(
        spark, path,
        {"t1": spark.createDataFrame(
            [(1, "a", None), (2, "b", "real")], "pk long, v string, c string"
        )},
        pks={"t1": "pk"}, n_buckets=4,
    )
    assert set(m["tables"]["t1"].get("added_columns", {})) == {"d"}
    rows = {
        r.pk: (r.c, r.d)
        for r in read_versioned_db(spark, path, "t1").collect()
    }
    assert rows[1] == (None, "dflt") and rows[2] == ("real", "dflt")


def test_diff_versioned_change_data_feed(spark, tmp_path):
    """The computed change-data-feed: row-level insert / delete /
    update pre+post images between two snapshots, reading ONLY the
    buckets whose generation changed (asserted via the scan's actual
    input files); identical snapshots diff to empty; the db twin
    yields cross-table-consistent change sets."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from amaxa_spark.sources.catalog import (
        MERGE_BUCKET_COL,
        diff_versioned,
        diff_versioned_db,
        merge_into_versioned,
        write_versioned_db,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_cdf")
    base = spark.createDataFrame(
        [(i, f"v{i}", i * 1.0) for i in range(100)],
        "pk long, val string, score double",
    )
    m0 = write_versioned_table(base, path, pk="pk", n_buckets=8)
    # one merge: update pk 5, insert pk 1000 (new bucket possible)
    m1 = merge_into_versioned(
        spark, path,
        spark.createDataFrame(
            [(5, "UPD"), (1000, "NEW")], "pk long, val string"
        ),
        pk="pk", set_cols=["val"], not_matched="insert",
    )

    d = diff_versioned(spark, path, m0["token"], m1["token"])
    rows = {(r.pk, r._change_type): (r.val, r.score) for r in d.collect()}
    assert rows[(1000, "insert")] == ("NEW", None)
    assert rows[(5, "update_preimage")] == ("v5", 5.0)
    assert rows[(5, "update_postimage")] == ("UPD", 5.0)
    # every OTHER row in the changed buckets is unchanged -> absent
    assert len(rows) == 3

    # only changed buckets were scanned: every input file lives in a
    # bucket dir whose generation differs between the two manifests
    changed = {
        b for b in set(m0["buckets"]) | set(m1["buckets"])
        if m0["buckets"].get(b) != m1["buckets"].get(b)
    }
    for f in d.inputFiles():
        assert any(f"{MERGE_BUCKET_COL}={b}/" in f for b in changed), f
    n_all = len(set(m0["buckets"]) | set(m1["buckets"]))
    assert len(changed) < n_all  # the premise: most buckets untouched

    # output schema matches read_versioned_table (bucket col included)
    assert MERGE_BUCKET_COL in d.columns

    # identical snapshots -> empty diff (no bucket read at all)
    same = diff_versioned(spark, path, m1["token"], m1["token"])
    assert same.count() == 0 and "_change_type" in same.columns

    # empty-table snapshots diff to a TYPED empty feed (from the
    # recorded init schema), not an error
    evt = str(tmp_path / "vt_cdf_empty")
    e0 = write_versioned_table(
        spark.createDataFrame([], "pk long, v string"), evt,
        pk="pk", n_buckets=4,
    )
    e1 = write_versioned_table(
        spark.createDataFrame([], "pk long, v string"), evt,
        pk="pk", n_buckets=4,
    )
    ed = diff_versioned(spark, evt, e0["token"], e1["token"])
    assert ed.count() == 0 and {"pk", "v", "_change_type"} <= set(ed.columns)

    # ...and ALTER-added columns appear in that typed feed too (the
    # same reader-side materialization every other read path gets)
    from amaxa_spark.sources.catalog import alter_versioned_add_columns

    e2 = alter_versioned_add_columns(evt, {"c": ("string", "dflt")})
    ea = diff_versioned(spark, evt, e1["token"], e2["token"])
    assert ea.count() == 0 and "c" in ea.columns

    # a re-init that changed the pk TYPE (same name) is caught up
    # front, not deep in the join
    write_versioned_table(
        spark.createDataFrame([("k1", "v")], "pk string, v string"), evt,
        pk="pk", n_buckets=4,
    )
    with _pytest.raises(ValueError, match="changed type"):
        diff_versioned(spark, evt, e0["token"], None)

    # deletes: a full rewrite without pk 5 shows it as deleted
    m2 = write_versioned_table(
        base.where(F.col("pk") != 5), path, pk="pk", n_buckets=8
    )
    d2 = diff_versioned(spark, path, m1["token"], m2["token"])
    by_type = {r.pk: r._change_type for r in d2.collect() if r.pk in (5, 1000)}
    assert by_type[5] == "delete" and by_type[1000] == "delete"

    # direction guard
    with _pytest.raises(ValueError, match="swap the tokens"):
        diff_versioned(spark, path, m2["token"], m0["token"])

    # db twin: one transaction pair, per-table change sets
    db = str(tmp_path / "db_cdf")
    n0 = write_versioned_db(
        spark, db,
        {"a": spark.createDataFrame([(1, "x")], "pk long, v string")},
        pks={"a": "pk"}, n_buckets=2,
    )
    from amaxa_spark.sources.catalog import merge_into_versioned_db

    n1 = merge_into_versioned_db(
        spark, db,
        {"a": spark.createDataFrame([(1, "X2")], "pk long, v string")},
        set_cols={"a": ["v"]},
    )
    dd = diff_versioned_db(spark, db, "a", n0["token"], n1["token"])
    got = {(r.pk, r._change_type): r.v for r in dd.collect()}
    assert got == {(1, "update_preimage"): "x", (1, "update_postimage"): "X2"}


def test_delete_from_versioned(spark, tmp_path):
    """Bucket-scoped atomic DELETE: only buckets holding deleted keys
    are rewritten (manifest generations prove it), emptied buckets
    drop from the manifest, NULL/absent keys are no-ops, the pre-delete
    token still time-travels to the full data, and a wrong key column
    raises."""
    import pytest as _pytest

    from amaxa_spark.sources.catalog import (
        delete_from_versioned,
        read_versioned_table,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_del")
    base = spark.range(20).select(
        F.col("id").alias("pk"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    m0 = write_versioned_table(base, path, pk="pk", n_buckets=8)

    m1 = delete_from_versioned(
        spark, path,
        spark.createDataFrame([(3,), (5,), (None,), (999,)], "pk long"),
        pk="pk",
    )
    left = {r.pk for r in read_versioned_table(spark, path).collect()}
    assert left == set(range(20)) - {3, 5}
    # only the buckets of keys 3 and 5 moved generation
    moved = {
        b for b in m0["buckets"]
        if m0["buckets"][b] != m1["buckets"].get(b)
    }
    from pyspark.sql import Row

    def bucket_of(k):
        return spark.createDataFrame([Row(pk=k)]).select(
            F.pmod(F.xxhash64(F.col("pk").cast("string")), F.lit(8))
            .cast("int").alias("b")
        ).collect()[0].b

    assert moved == {str(bucket_of(3)), str(bucket_of(5))}
    # time travel: the pre-delete snapshot still has every row
    assert read_versioned_table(spark, path, m0["token"]).count() == 20

    # deleting EVERY key of one bucket drops it from the manifest
    b0_keys = [
        r.pk for r in base.withColumn(
            "b", F.pmod(F.xxhash64(F.col("pk").cast("string")), F.lit(8))
        ).where(F.col("b") == 0).collect()
    ]
    m2 = delete_from_versioned(
        spark, path, spark.createDataFrame([(k,) for k in b0_keys], "pk long"),
        pk="pk",
    )
    assert "0" in m0["buckets"] and "0" not in m2["buckets"]
    assert read_versioned_table(spark, path).count() == 18 - len(b0_keys)

    # no-op delete returns the unchanged head manifest
    m3 = delete_from_versioned(
        spark, path, spark.createDataFrame([(777,)], "pk long"), pk="pk"
    )
    assert m3["token"] == m2["token"]

    with _pytest.raises(ValueError, match="not the table key"):
        delete_from_versioned(
            spark, path, spark.createDataFrame([(1,)], "other long"),
            pk="other",
        )

    # deleting EVERY row leaves a readable, typed, EMPTY table (the
    # zero-bucket state a fresh empty init also has), not an error
    m4 = delete_from_versioned(spark, path, base, pk="pk")
    assert m4["buckets"] == {}
    emptied = read_versioned_table(spark, path)
    assert emptied.count() == 0 and {"pk", "v"} <= set(emptied.columns)
    # ...and the pre-delete token still reads
    assert read_versioned_table(spark, path, m2["token"]).count() > 0


def test_apply_changes_replication(spark, tmp_path):
    """CDC replication: diff(src) applied to a replica (with a
    DIFFERENT bucket count) reproduces the source state exactly, in
    one commit; malformed feeds raise."""
    import pytest as _pytest

    from amaxa_spark.sources.catalog import (
        apply_changes_versioned,
        delete_from_versioned,
        merge_into_versioned,
        read_versioned_table,
        replicate_versioned,
        write_versioned_table,
    )

    src = str(tmp_path / "cdc_src")
    dst = str(tmp_path / "cdc_dst")
    base = spark.range(30).select(
        F.col("id").alias("pk"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") % 3).alias("grp"),
    )
    s0 = write_versioned_table(base, src, pk="pk", n_buckets=8)
    # replica starts at the same state but a different bucket layout
    write_versioned_table(base, dst, pk="pk", n_buckets=3)

    # source moves on: update 2 keys, insert 2 new, delete 3
    merge_into_versioned(
        spark, src,
        spark.createDataFrame(
            [(1, "V1"), (2, "V2"), (100, "NEW100"), (101, "NEW101")],
            "pk long, v string",
        ),
        pk="pk", set_cols=["v"], not_matched="insert",
    )
    s2 = delete_from_versioned(
        spark, src, spark.createDataFrame([(7,), (8,), (9,)], "pk long"),
        pk="pk",
    )

    # one-call replication: dst == src@head afterwards
    replicate_versioned(spark, src, dst, s0["token"], s2["token"])
    want = {
        (r.pk, r.v, r.grp)
        for r in read_versioned_table(spark, src).collect()
    }
    got = {
        (r.pk, r.v, r.grp)
        for r in read_versioned_table(spark, dst).collect()
    }
    assert got == want and len(got) == 29

    # replaying the same feed is a clean no-op-shaped second apply:
    # deletes match nothing, upserts replace with identical rows
    replicate_versioned(spark, src, dst, s0["token"], s2["token"])
    assert {
        (r.pk, r.v, r.grp)
        for r in read_versioned_table(spark, dst).collect()
    } == want

    # malformed feeds: duplicate post-images, missing _change_type
    dup = spark.createDataFrame(
        [(1, "a", 0, "insert"), (1, "b", 0, "update_postimage")],
        "pk long, v string, grp long, _change_type string",
    )
    with _pytest.raises(ValueError, match="multiple post-image"):
        apply_changes_versioned(spark, dst, dup)
    with _pytest.raises(ValueError, match="_change_type"):
        apply_changes_versioned(spark, dst, base)
    bad_type = spark.createDataFrame(
        [(1, "a", 0, "Upsert")],
        "pk long, v string, grp long, _change_type string",
    )
    with _pytest.raises(ValueError, match="unknown _change_type"):
        apply_changes_versioned(spark, dst, bad_type)
    null_type = spark.createDataFrame(
        [(1, "a", 0, None)],
        "pk long, v string, grp long, _change_type string",
    )
    with _pytest.raises(ValueError, match="unknown _change_type"):
        apply_changes_versioned(spark, dst, null_type)


def test_delete_concurrency_rebase_and_conflict(spark, tmp_path):
    """The None-drop commit path under contention (simulated
    deterministically by pinning base_token to a stale snapshot): a
    DELETE racing a MERGE to DIFFERENT buckets rebases — both land,
    history stays linear — while overlapping buckets raise, in both
    orders."""
    import pytest as _pytest

    from amaxa_spark.sources.catalog import (
        ConcurrentMergeError,
        delete_from_versioned,
        merge_into_versioned,
        read_versioned_table,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_del_race")
    base = spark.range(40).select(
        F.col("id").alias("pk"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    m0 = write_versioned_table(base, path, pk="pk", n_buckets=8)

    from amaxa_spark.sources.catalog import _bucket_expr

    # every key's bucket in ONE job, via the layout's own expression
    keys = {
        r.pk: r.b
        for r in base.select("pk", _bucket_expr("pk", 8).alias("b")).collect()
    }
    k_del = 0
    k_other = next(k for k, b in keys.items() if b != keys[k_del])
    k_same = next(k for k in keys if k != k_del and keys[k] == keys[k_del])

    # disjoint race: merge commits after the delete's snapshot; the
    # delete rebases and BOTH effects land
    m1 = merge_into_versioned(
        spark, path,
        spark.createDataFrame([(k_other, "MERGED")], "pk long, v string"),
        pk="pk", set_cols=["v"],
    )
    m2 = delete_from_versioned(
        spark, path, spark.createDataFrame([(k_del,)], "pk long"),
        pk="pk", base_token=m0["token"],
    )
    assert int(m2["seq"]) == int(m1["seq"]) + 1
    rows = {r.pk: r.v for r in read_versioned_table(spark, path).collect()}
    assert k_del not in rows and rows[k_other] == "MERGED"

    # overlapping race, delete loses: the merge rewrote the bucket the
    # delete also touches -> ConcurrentMergeError
    m3 = merge_into_versioned(
        spark, path,
        spark.createDataFrame([(k_same, "AGAIN")], "pk long, v string"),
        pk="pk", set_cols=["v"],
    )
    with _pytest.raises(ConcurrentMergeError):
        delete_from_versioned(
            spark, path, spark.createDataFrame([(k_same,)], "pk long"),
            pk="pk", base_token=m2["token"],
        )

    # overlapping race, merge loses: a delete DROPPED the bucket the
    # merge also touches (update-only mode) -> ConcurrentMergeError
    b_target = keys[k_same]
    all_in_bucket = [k for k, b in keys.items() if b == b_target]
    m4 = delete_from_versioned(
        spark, path,
        spark.createDataFrame([(k,) for k in all_in_bucket], "pk long"),
        pk="pk",
    )
    assert str(b_target) not in m4["buckets"]
    with _pytest.raises(ConcurrentMergeError):
        merge_into_versioned(
            spark, path,
            spark.createDataFrame([(k_same, "LOST")], "pk long, v string"),
            pk="pk", set_cols=["v"], base_token=m3["token"],
        )


def test_delete_and_replicate_versioned_db(spark, tmp_path):
    """db twins: one transaction deletes keys across tables (all
    tables forget together), and replicate_versioned_db moves a
    replica between cross-table-consistent states — including a
    table-emptying delete that stays readable."""
    import pytest as _pytest

    from amaxa_spark.sources.catalog import (
        delete_from_versioned_db,
        read_versioned_db,
        replicate_versioned_db,
        write_versioned_db,
    )

    src = str(tmp_path / "db_src")
    dst = str(tmp_path / "db_dst")
    orders = spark.createDataFrame(
        [(i, f"o{i}") for i in range(12)], "pk long, what string"
    )
    items = spark.createDataFrame(
        [(i, i % 4, 10.0 * i) for i in range(12)],
        "pk long, order_pk long, amt double",
    )
    pks = {"orders": "pk", "items": "pk"}
    s0 = write_versioned_db(
        spark, src, {"orders": orders, "items": items}, pks, n_buckets=4
    )
    write_versioned_db(
        spark, dst, {"orders": orders, "items": items}, pks, n_buckets=2
    )

    # ONE transaction: erase order 3 and its items everywhere
    item_keys = items.where(F.col("order_pk") == 3).select("pk")
    s1 = delete_from_versioned_db(
        spark, src,
        {"orders": spark.createDataFrame([(3,)], "pk long"),
         "items": item_keys},
    )
    assert s1["token"] != s0["token"]  # one commit for both tables
    assert read_versioned_db(spark, src, "orders").where(
        F.col("pk") == 3
    ).count() == 0
    got_items = read_versioned_db(spark, src, "items").count()
    assert got_items == 12 - item_keys.count()

    # replicate both tables' changes in one transaction
    s2 = replicate_versioned_db(spark, src, dst, s0["token"], s1["token"])
    for name in ("orders", "items"):
        a = {tuple(r) for r in read_versioned_db(spark, src, name)
             .drop("__mb").collect()}
        b = {tuple(r) for r in read_versioned_db(spark, dst, name)
             .drop("__mb").collect()}
        assert a == b, name
    assert s2["tables"].keys() == {"orders", "items"}

    # unknown table raises before anything is written
    with _pytest.raises(ValueError, match="no table"):
        delete_from_versioned_db(
            spark, src, {"nope": spark.createDataFrame([(1,)], "pk long")}
        )

    # emptying a whole table leaves it READABLE (typed empty), and the
    # sibling table untouched
    delete_from_versioned_db(spark, src, {"items": items.select("pk")})
    emptied = read_versioned_db(spark, src, "items")
    assert emptied.count() == 0 and {"pk", "order_pk", "amt"} <= set(
        emptied.columns
    )
    assert read_versioned_db(spark, src, "orders").count() == 11


def test_streaming_cdc_replication(spark, tmp_path):
    """apply_changes_batch: a stream of change feeds replicates a
    versioned table batch by batch — multi-commit batches collapse to
    last-action-per-key, replays of committed batch ids are skipped
    (exactly-once), preimages are ignored, empty batches commit
    nothing."""
    from amaxa_spark.sources.catalog import (
        delete_from_versioned,
        diff_versioned,
        merge_into_versioned,
        read_versioned_table,
        write_versioned_table,
    )
    from amaxa_spark.streaming.merge_stream import apply_changes_batch

    src = str(tmp_path / "scdc_src")
    dst = str(tmp_path / "scdc_dst")
    base = spark.range(20).select(
        F.col("id").alias("pk"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    s0 = write_versioned_table(base, src, pk="pk", n_buckets=8)
    write_versioned_table(base, dst, pk="pk", n_buckets=4)

    # two source commits; the feed producer stamps each diff with its
    # source seq, and BOTH land in one micro-batch (collapse required:
    # pk 1 is updated twice, pk 2 updated then deleted)
    s1 = merge_into_versioned(
        spark, src,
        spark.createDataFrame(
            [(1, "first"), (2, "gone-soon"), (50, "new")],
            "pk long, v string",
        ),
        pk="pk", set_cols=["v"], not_matched="insert",
    )
    s2 = merge_into_versioned(
        spark, src,
        spark.createDataFrame([(1, "second")], "pk long, v string"),
        pk="pk", set_cols=["v"],
    )
    s3 = delete_from_versioned(
        spark, src, spark.createDataFrame([(2,)], "pk long"), pk="pk"
    )
    feed = None
    for i, (a, b) in enumerate(
        [(s0, s1), (s1, s2), (s2, s3)]
    ):
        d = diff_versioned(spark, src, a["token"], b["token"]).withColumn(
            "src_seq", F.lit(i)
        )
        feed = d if feed is None else feed.unionByName(d)

    m = apply_changes_batch(
        spark, dst, feed, order_col="src_seq",
        stream_id="cdc", batch_id=0,
    )
    assert m is not None
    want = {
        (r.pk, r.v) for r in read_versioned_table(spark, src).collect()
    }
    got = {
        (r.pk, r.v) for r in read_versioned_table(spark, dst).collect()
    }
    assert got == want
    assert (1, "second") in got and not any(k == 2 for k, _ in got)

    # replay of a committed batch id is skipped (exactly-once)
    assert apply_changes_batch(
        spark, dst, feed, order_col="src_seq",
        stream_id="cdc", batch_id=0,
    ) is None
    # an empty batch commits nothing, marker included
    assert apply_changes_batch(
        spark, dst, feed.limit(0), order_col="src_seq",
        stream_id="cdc", batch_id=1,
    ) is None


def test_empty_init_merge_keeps_declared_schema(spark, tmp_path):
    """Zero-bucket bootstrap honors the manifest's recorded schema:
    the first insert-mode merge into an empty-frame-init table keeps
    init-declared columns NOT in set_cols as NULL instead of silently
    narrowing the physical schema to pk + set_cols — the schema a
    reader sees before the insert is the schema it sees after."""
    from amaxa_spark.sources.catalog import (
        merge_into_versioned,
        read_versioned_table,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_declared")
    write_versioned_table(
        spark.createDataFrame([], "pk long, v string, w long, z double"),
        path, pk="pk", n_buckets=4,
    )
    before = read_versioned_table(spark, path)
    merge_into_versioned(
        spark, path,
        spark.createDataFrame([(7, "first")], "pk long, v string"),
        pk="pk", set_cols=["v"], not_matched="insert",
    )
    after = read_versioned_table(spark, path)
    assert set(after.columns) == set(before.columns)  # no narrowing
    row = after.collect()[0]
    assert (row.pk, row.v, row.w, row.z) == (7, "first", None, None)
    # the typed NULLs carry the DECLARED types, not a guessed one
    assert dict(after.dtypes)["w"] == "bigint"
    assert dict(after.dtypes)["z"] == "double"


def test_apply_changes_keeps_natural_order_col_on_preformat_manifest(
    spark, tmp_path
):
    """A pre-recorded-schema manifest must not make apply_changes_batch
    drop a NATURAL order column (e.g. updated_at): _is_table_column
    falls back to a bucket parquet footer when the manifest recorded
    no schema, so the collapse keeps the column and the apply's
    column-set check passes instead of sticking the stream."""
    import json
    import os

    from amaxa_spark.sources.catalog import (
        _bucket_manifest,
        read_versioned_table,
        write_versioned_table,
    )
    from amaxa_spark.streaming.merge_stream import apply_changes_batch

    path = str(tmp_path / "vt_preformat")
    write_versioned_table(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "pk long, v string, updated_at long"
        ),
        path, pk="pk", n_buckets=4,
    )
    # simulate a pre-format manifest: strip the recorded schema from
    # the HEAD commit (the manifest of record), as an old writer would
    # have produced
    commits = os.path.join(path, ".commits")
    for f in os.listdir(commits):
        if not f.endswith(".json"):
            continue  # the advisory HEAD hint is not a commit
        p = os.path.join(commits, f)
        with open(p) as fh:
            m = json.load(fh)
        m.pop("schema_json", None)
        m.pop("columns", None)
        with open(p, "w") as fh:
            json.dump(m, fh)
    assert "schema_json" not in _bucket_manifest(path)

    feed = spark.createDataFrame(
        [
            (1, "a2", 30, "update_postimage"),
            (1, "a1", 25, "update_postimage"),
            (3, "c", 40, "insert"),
        ],
        "pk long, v string, updated_at long, _change_type string",
    )
    m = apply_changes_batch(spark, path, feed, order_col="updated_at")
    assert m is not None
    got = {
        (r.pk, r.v, r.updated_at)
        for r in read_versioned_table(spark, path).collect()
    }
    # updated_at REPLICATED (not dropped): key 1 took its latest action
    assert got == {(1, "a2", 30), (2, "b", 20), (3, "c", 40)}


def _duck_rows(sql):
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def test_manifest_to_sql_live_duckdb_scan(spark, tmp_path):
    """Live external-engine scan: DuckDB follows the commit chain via
    manifest_to_sql with NO export call — it matches
    read_versioned_table immediately after a merge, matches time
    travel by token, reconstructs ALTER-added defaults, and the
    emitted SQL is a stable point-in-time snapshot (later merges do
    not change an already-emitted query's result)."""
    from amaxa_spark.sources.catalog import (
        alter_versioned_add_columns,
        manifest_to_sql,
        merge_into_versioned,
        read_versioned_table,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_live")
    base = spark.range(20).select(
        F.col("id").alias("pk"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    m0 = write_versioned_table(base, path, pk="pk", n_buckets=8)

    def spark_rows(token=None):
        return sorted(
            (r.pk, r.v)
            for r in read_versioned_table(spark, path, token)
            .select("pk", "v")
            .collect()
        )

    # merge, then read through DuckDB with no export in between
    merge_into_versioned(
        spark, path,
        spark.createDataFrame([(1, "V1"), (99, "NEW")], "pk long, v string"),
        pk="pk", set_cols=["v"], not_matched="insert",
    )
    sql_head = manifest_to_sql(path)
    assert sorted(_duck_rows(f"SELECT pk, v FROM ({sql_head})")) == spark_rows()
    assert (1, "V1") in spark_rows() and (99, "NEW") in spark_rows()

    # time travel by token: DuckDB sees the PRE-merge snapshot
    sql_t0 = manifest_to_sql(path, token=m0["token"])
    assert sorted(
        _duck_rows(f"SELECT pk, v FROM ({sql_t0})")
    ) == spark_rows(m0["token"])

    # ALTER-added column with a default: reconstructed in SQL with
    # default-on-read, no files rewritten
    alter_versioned_add_columns(
        path, {"score": ("double", 1.5)}, spark=spark
    )
    got = _duck_rows(f"SELECT pk, v, score FROM ({manifest_to_sql(path)})")
    want = sorted(
        (r.pk, r.v, r.score)
        for r in read_versioned_table(spark, path)
        .select("pk", "v", "score")
        .collect()
    )
    assert sorted(got) == want
    assert all(s == 1.5 for _, _, s in got)

    # a merge AFTER the alter materializes score physically for its
    # bucket; the emitted SQL still reconciles mixed generations
    merge_into_versioned(
        spark, path,
        spark.createDataFrame([(2, "V2", 9.0)], "pk long, v string, score double"),
        pk="pk", set_cols=["v", "score"],
    )
    got2 = dict(
        (pk, (v, s))
        for pk, v, s in _duck_rows(
            f"SELECT pk, v, score FROM ({manifest_to_sql(path)})"
        )
    )
    assert got2[2] == ("V2", 9.0)
    assert got2[3] == ("v3", 1.5)  # pre-alter file coalesces to default

    # stability: the PREVIOUSLY emitted head SQL still returns its own
    # snapshot (committed generations are immutable)
    assert sorted(
        _duck_rows(f"SELECT pk, v FROM ({sql_head})")
    ) == sorted(set(spark_rows(m0["token"])) - {(1, "v1")} | {(1, "V1"), (99, "NEW")})


def test_manifest_to_sql_empty_and_db_twin(spark, tmp_path):
    """Typed-empty zero-bucket tables emit a valid 0-row SELECT, and
    the db twin resolves every table from ONE transaction manifest."""
    from amaxa_spark.sources.catalog import (
        db_manifest_to_sql,
        manifest_to_sql,
        merge_into_versioned_db,
        read_versioned_db,
        write_versioned_db,
        write_versioned_table,
    )

    empty = str(tmp_path / "vt_empty_sql")
    write_versioned_table(
        spark.createDataFrame([], "pk long, v string"), empty,
        pk="pk", n_buckets=4,
    )
    rows = _duck_rows(manifest_to_sql(empty))
    assert rows == []

    db = str(tmp_path / "db_live")
    write_versioned_db(
        spark, db,
        {
            "a": spark.createDataFrame([(1, "x")], "pk long, v string"),
            "b": spark.createDataFrame([(2, 7.0)], "pk long, w double"),
        },
        pks={"a": "pk", "b": "pk"},
        n_buckets=2,
    )
    merge_into_versioned_db(
        spark, db,
        {"a": spark.createDataFrame([(5, "y")], "pk long, v string")},
        set_cols={"a": ["v"]}, not_matched="insert",
    )
    sqls = db_manifest_to_sql(db)
    assert set(sqls) == {"a", "b"}
    for name in ("a", "b"):
        got = sorted(_duck_rows(f"SELECT * FROM ({sqls[name]})"))
        want = sorted(
            tuple(r)
            for r in read_versioned_db(spark, db, name)
            .drop("__mb")
            .collect()
        )
        assert got == want
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no table"):
        db_manifest_to_sql(db, tables=["missing"])


def test_manifest_to_sql_quotes_identifiers_and_nonfinite_defaults(
    spark, tmp_path
):
    """Review fixes: emitted SQL must survive keyword/special column
    names (quoted identifiers) and non-finite float ALTER defaults
    (quoted special literals, not a bare `nan` identifier)."""
    import math

    from amaxa_spark.sources.catalog import (
        alter_versioned_add_columns,
        manifest_to_sql,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_quoted")
    write_versioned_table(
        spark.createDataFrame(
            [(1, "a", 2.0)], "pk long, `order` string, `weird col` double"
        ),
        path, pk="pk", n_buckets=2,
    )
    alter_versioned_add_columns(
        path, {"score": ("double", float("nan"))}, spark=spark
    )
    rows = _duck_rows(manifest_to_sql(path))
    assert len(rows) == 1
    pk, order, weird, score = rows[0]
    assert (pk, order, weird) == (1, "a", 2.0)
    assert math.isnan(score)

    # zero-bucket branch with a keyword column also emits valid SQL
    empty = str(tmp_path / "vt_quoted_empty")
    write_versioned_table(
        spark.createDataFrame([], "pk long, `select` string"),
        empty, pk="pk", n_buckets=2,
    )
    assert _duck_rows(manifest_to_sql(empty)) == []


def test_matview_incremental_refresh_tracks_full_recompute(spark, tmp_path):
    """Incrementally maintained aggregate view: after every source
    mutation (merge updates, upsert inserts, deletes that empty a
    group), one refresh makes the view equal the full GROUP BY
    recompute; refreshing at head is a no-op commit-wise; the marker
    and diff-base token ride each refresh commit atomically."""
    from amaxa_spark.sources.catalog import (
        delete_from_versioned,
        merge_into_versioned,
        read_versioned_table,
        write_versioned_table,
        _bucket_manifest,
    )
    from amaxa_spark.sources.matview import (
        read_aggregate_view,
        refresh_aggregate_versioned,
    )

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    base = spark.createDataFrame(
        [(i, i % 7, float(i), i % 3) for i in range(300)],
        "pk long, grp long, amount double, small long",
    )
    write_versioned_table(base, src, pk="pk", n_buckets=8)

    def expected():
        cur = read_versioned_table(spark, src)
        return {
            r.grp: (r.n, float(r.s_amount), r.s_small)
            for r in cur.where(F.col("grp").isNotNull())
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.coalesce("amount", F.lit(0))).alias("s_amount"),
                F.sum(F.coalesce("small", F.lit(0))).alias("s_small"),
            )
            .collect()
        }

    def got():
        return {
            r.grp: (r.n_rows, float(r.sum_amount), r.sum_small)
            for r in read_aggregate_view(spark, view).collect()
        }

    # first build
    m1 = refresh_aggregate_versioned(
        spark, src, view, "grp", ["amount", "small"], n_buckets=4
    )
    assert got() == expected()
    assert "matview:grp" in m1.get("streams", {})

    # no-op refresh: marker already at head, no new commit
    m2 = refresh_aggregate_versioned(
        spark, src, view, "grp", ["amount", "small"], n_buckets=4
    )
    assert m2["seq"] == m1["seq"]

    # incremental: updates + inserts in one source merge
    upd = spark.createDataFrame(
        [(3, 2, 100.0, 9), (301, 9, 5.5, 1), (302, 9, 4.5, 0)],
        "pk long, grp long, amount double, small long",
    )
    merge_into_versioned(
        spark, src, upd, pk="pk",
        set_cols=["grp", "amount", "small"], not_matched="insert",
    )
    m3 = refresh_aggregate_versioned(
        spark, src, view, "grp", ["amount", "small"], n_buckets=4
    )
    assert got() == expected()
    assert m3["seq"] > m1["seq"]
    # only buckets holding affected groups moved on the view chain
    moved = {
        b for b, g in m3["buckets"].items()
        if _bucket_manifest(view, m1["token"])["buckets"].get(b) != g
    }
    assert moved and len(moved) < len(m3["buckets"])

    # deletes that empty a whole group: grp 9 came only from the two
    # inserted rows — deleting them must DELETE the view row
    keys = spark.createDataFrame([(301,), (302,)], "pk long")
    delete_from_versioned(spark, src, keys, pk="pk")
    refresh_aggregate_versioned(
        spark, src, view, "grp", ["amount", "small"], n_buckets=4
    )
    exp = expected()
    assert 9 not in exp and got() == exp

    # a second refresher racing to the same source head is a no-op
    # (marker refused inside the CAS loop or short-circuited before)
    head = _bucket_manifest(view)
    again = refresh_aggregate_versioned(
        spark, src, view, "grp", ["amount", "small"], n_buckets=4
    )
    assert again["seq"] == head["seq"]


def test_matview_rebuild_null_semantics_and_vacuumed_base(spark, tmp_path):
    """The rebuild path: a view with no marker (first-build crash) or
    a vacuumed-away diff base repairs itself by a full-state feed that
    also deletes stale view keys. NULL group keys never enter the
    view; NULL values aggregate under the documented coalesce-to-0
    contract."""
    from amaxa_spark.sources.catalog import (
        merge_into_versioned,
        vacuum_versioned,
        write_versioned_table,
        _bucket_manifest,
    )
    from amaxa_spark.sources.matview import (
        read_aggregate_view,
        refresh_aggregate_versioned,
    )

    src = str(tmp_path / "src")
    view = str(tmp_path / "view")
    base = spark.createDataFrame(
        [(0, 1, 2.0), (1, 1, None), (2, None, 9.0), (3, 4, 1.0)],
        "pk long, grp long, amount double",
    )
    write_versioned_table(base, src, pk="pk", n_buckets=4)
    refresh_aggregate_versioned(spark, src, view, "grp", ["amount"])
    got = {r.grp: (r.n_rows, r.sum_amount) for r in
           read_aggregate_view(spark, view).collect()}
    # NULL grp row excluded; NULL amount counts as 0 in the sum
    assert got == {1: (2, 2.0), 4: (1, 1.0)}

    # crash simulation: wipe the marker by re-initializing the view
    # (write_versioned_table re-init keeps no matview marker), then a
    # source change + refresh must still converge via rebuild
    stale_agg = spark.createDataFrame(
        [(99, 5, 5.0)], "grp long, n_rows long, sum_amount double"
    ).select("grp", "n_rows", "sum_amount")
    write_versioned_table(stale_agg, view, pk="grp", n_buckets=4)
    upd = spark.createDataFrame([(4, 4, 3.0)], "pk long, grp long, amount double")
    merge_into_versioned(
        spark, src, upd, pk="pk", set_cols=["grp", "amount"],
        not_matched="insert",
    )
    refresh_aggregate_versioned(spark, src, view, "grp", ["amount"])
    got = {r.grp: (r.n_rows, r.sum_amount) for r in
           read_aggregate_view(spark, view).collect()}
    # stale key 99 deleted, real groups rebuilt
    assert got == {1: (2, 2.0), 4: (2, 4.0)}

    # vacuumed diff base: age out every old source generation, then
    # mutate + refresh — diff from the vacuumed token must fall back
    # to rebuild and still converge
    for _ in range(3):
        merge_into_versioned(
            spark, src,
            spark.createDataFrame(
                [(0, 1, 10.0)], "pk long, grp long, amount double"
            ),
            pk="pk", set_cols=["grp", "amount"],
        )
    vacuum_versioned(src, keep_last=1, min_age_s=0)
    refresh_aggregate_versioned(spark, src, view, "grp", ["amount"])
    got = {r.grp: (r.n_rows, r.sum_amount) for r in
           read_aggregate_view(spark, view).collect()}
    assert got == {1: (2, 10.0), 4: (2, 4.0)}
    assert "matview:grp" in _bucket_manifest(view).get("streams", {})


def test_streaming_auto_optimize(spark, tmp_path):
    """optimize_every=N: the sink compacts fragmented buckets after
    every Nth APPLIED micro-batch — its own commit, data-equivalent,
    file counts bounded again."""
    import glob as _glob
    import os

    from pyspark.sql import functions as F

    from amaxa_spark.sources.catalog import (
        read_versioned_table,
        write_versioned_table,
        _bucket_manifest,
    )
    from amaxa_spark.streaming.merge_stream import merge_stream_writer

    path = str(tmp_path / "vt_auto")
    base = spark.range(200).select(
        F.col("id").alias("pk"), F.lit("old").alias("val"),
        F.lit(0).alias("ver"),
    )
    write_versioned_table(base.repartition(8), path, pk="pk", n_buckets=2)

    src = str(tmp_path / "src")
    # three files -> three micro-batches with maxFilesPerTrigger=1
    for i in range(3):
        spark.range(200).select(
            F.col("id").alias("pk"),
            F.lit(f"b{i}").alias("val"),
            F.lit(i + 1).cast("long").alias("ver"),
        ).repartition(8).write.mode(
            "append" if i else "overwrite"
        ).parquet(src)
    stream = (
        spark.readStream.schema("pk long, val string, ver long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        merge_stream_writer(
            stream, path, "pk", ["val", "ver"], order_col="ver",
            checkpoint_dir=str(tmp_path / "ckpt"),
            optimize_every=2, optimize_max_files=1,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {r.pk: r.ver for r in read_versioned_table(spark, path).collect()}
    assert len(got) == 200 and max(got.values()) == 3  # data intact
    m = _bucket_manifest(path)
    # the compaction ran: every live bucket holds few files despite
    # 1 init + 3 merge writes at parallelism 8 (>= 4 files otherwise)
    worst = max(
        len(_glob.glob(os.path.join(path, g, f"__mb={b}", "*.parquet")))
        for b, g in m["buckets"].items()
    )
    assert worst <= 2, worst
