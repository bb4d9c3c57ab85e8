"""CLI wiring + field-group/exclude-fields expansion — mirrors the
reference's test_cli.py surface at the file level."""

import json

import yaml

from amaxa_spark.__main__ import load_registry, main
from amaxa_spark.metadata import TableMeta, expand_field_group


def test_expand_field_group_excludes_compound():
    meta = TableMeta(
        "Account",
        types={
            "Name": "string",
            "BillingAddress": "address",
            "Photo": "base64",
            "Serial": "autonumber",
        },
    )
    cols = ["Id", "Name", "BillingAddress", "Photo", "Serial"]
    assert expand_field_group(meta, cols, "readable") == ["Id", "Name", "Serial"]
    assert expand_field_group(meta, cols, "writeable") == ["Id", "Name"]


def test_cli_extract_end_to_end(spark, sf_dir, tmp_path):
    reg = {
        "tables": [
            {"name": "customer", "pk": "c_custkey", "lookups": {}},
            {
                "name": "orders",
                "pk": "o_orderkey",
                "lookups": {"o_custkey": ["customer"]},
            },
        ]
    }
    reg_path = tmp_path / "registry.json"
    reg_path.write_text(json.dumps(reg))
    op = {
        "version": 2,
        "operation": [
            {
                "table": "customer",
                "extract": {"query": "c_mktsegment = 'BUILDING'"},
            },
            {
                "table": "orders",
                "extract": {"descendents": True},
                "exclude-fields": ["o_orderpriority"],
            },
        ],
    }
    op_path = tmp_path / "op.yml"
    op_path.write_text(yaml.safe_dump(op))
    out = tmp_path / "out"
    rc = main(
        [
            "extract",
            str(op_path),
            "--data-dir",
            sf_dir,
            "--registry",
            str(reg_path),
            "--out",
            str(out),
        ]
    )
    assert rc == 0
    cust = spark.read.option("header", True).csv(str(out / "customer.csv"))
    orders = spark.read.option("header", True).csv(str(out / "orders.csv"))
    assert cust.count() > 0 and orders.count() > 0
    assert "o_orderpriority" not in orders.columns
    # header order: pk first, then alphabetical
    assert orders.columns[0] == "o_orderkey"
    assert orders.columns[1:] == sorted(orders.columns[1:])
    # referential closure
    dangling = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_anti"
    ).count()
    assert dangling == 0


def test_cli_check_only_flag(spark, sf_dir, tmp_path, capsys):
    """Reference -k parity: validate the operation and exit without
    moving data — valid config exits 0 with nothing written, a bad
    field exits 1 with the reference's error string."""
    reg = {
        "tables": [
            {"name": "customer", "pk": "c_custkey", "lookups": {}},
        ]
    }
    reg_path = tmp_path / "registry.json"
    reg_path.write_text(json.dumps(reg))
    op = {
        "version": 2,
        "operation": [
            {"table": "customer", "extract": {"all": True}},
        ],
    }
    op_path = tmp_path / "op.yml"
    op_path.write_text(yaml.safe_dump(op))
    out = tmp_path / "ck_out"
    base = ["extract", str(op_path), "--data-dir", sf_dir,
            "--registry", str(reg_path), "--out", str(out), "-k"]
    assert main(base) == 0
    assert "no data was extracted" in capsys.readouterr().out
    assert not out.exists()  # nothing written

    op["operation"][0]["fields"] = ["c_name", "No_Such_Field__c"]
    op_path.write_text(yaml.safe_dump(op))
    assert main(base) == 1
    err = capsys.readouterr().err
    assert (
        "Field customer.No_Such_Field__c does not exist or does not "
        "have the correct CRUD permission." in err
    )


def test_cli_check_mode_runs_quality_rules(spark, sf_dir, tmp_path, capsys):
    cfg = {
        "version": 1,
        "checks": [
            {
                "table": "customer",
                "rules": [
                    {"name": "pk_unique", "column": "c_custkey",
                     "check": "uniqueness", "min": 1.0},
                    {"name": "impossible", "column": "c_acctbal",
                     "check": "min", "min": 1e12},
                ],
            }
        ],
    }
    cfg_path = tmp_path / "checks.yml"
    cfg_path.write_text(yaml.safe_dump(cfg))
    out = tmp_path / "out"
    out.mkdir()
    rc = main(
        ["check", str(cfg_path), "--data-dir", sf_dir, "--out", str(out)]
    )
    # the impossible rule fails -> nonzero exit, but both verdicts print
    assert rc == 1
    printed = capsys.readouterr().out
    assert "PASS customer.pk_unique" in printed
    assert "FAIL customer.impossible" in printed
    # verdicts persisted for CI artifacts
    import pandas as pd

    pdf = pd.read_csv(out / "customer.quality.csv")
    assert set(pdf["rule"]) == {"pk_unique", "impossible"}


def test_quality_config_collects_all_errors(tmp_path):
    from amaxa_spark.config.loader import ConfigError, load_quality_config

    bad = {
        "checks": [
            {"table": "customer", "rules": [
                {"name": "x", "column": "c", "check": "nope"},
                {"name": "y", "check": "min"},
                {"name": "z", "column": "c", "check": "match_rate"},
            ]},
            {"rules": [{"name": "w", "column": "c", "check": "min"}]},
        ]
    }
    try:
        load_quality_config(bad)
        raise AssertionError("expected ConfigError")
    except ConfigError as e:
        msg = str(e)
        assert "unknown check 'nope'" in msg
        assert "'column' is required" in msg
        assert "match_rate requires 'pattern'" in msg
        assert "'table' is required" in msg


def test_registry_loader(tmp_path):
    reg_path = tmp_path / "r.json"
    reg_path.write_text(
        json.dumps(
            {
                "tables": [
                    {
                        "name": "Task",
                        "pk": "Id",
                        "lookups": {"WhoId": ["Contact", "Lead"]},
                        "key_prefix": "00T",
                    }
                ]
            }
        )
    )
    reg = load_registry(str(reg_path))
    assert reg["Task"].key_prefix == "00T"
    assert reg.prefix_map == {"00T": "Task"}


def test_sql_over_catalog_views(spark, sf_dir):
    from amaxa_spark.sources.catalog import register_views
    from amaxa_spark.tpch import tpch_catalog

    cat = tpch_catalog(spark, sf_dir)
    register_views(cat, ["customer", "orders"])
    out = spark.sql(
        "SELECT c_mktsegment, count(*) AS n FROM customer "
        "JOIN orders ON o_custkey = c_custkey GROUP BY c_mktsegment"
    )
    assert out.count() == 5
    assert sum(r.n for r in out.collect()) > 0


def test_cli_extract_atomic(spark, sf_dir, tmp_path):
    reg = {
        "tables": [
            {"name": "region", "pk": "r_regionkey", "lookups": {}},
            {
                "name": "nation",
                "pk": "n_nationkey",
                "lookups": {"n_regionkey": ["region"]},
            },
        ]
    }
    reg_path = tmp_path / "registry.json"
    reg_path.write_text(json.dumps(reg))
    op = {
        "version": 2,
        "operation": [
            {"table": "region", "extract": {"all": True}},
            {"table": "nation", "extract": {"descendents": True}},
        ],
    }
    op_path = tmp_path / "op.yml"
    op_path.write_text(yaml.safe_dump(op))
    out = tmp_path / "out"
    rc = main(
        [
            "extract",
            str(op_path),
            "--data-dir",
            sf_dir,
            "--registry",
            str(reg_path),
            "--out",
            str(out),
            "--atomic",
        ]
    )
    assert rc == 0
    from amaxa_spark.sources.catalog import read_committed_extract

    got = read_committed_extract(spark, str(out))
    assert got["region"].count() == 5
    assert got["nation"].count() == 25
    # pk-first header order holds through the manifest sink
    assert got["nation"].columns[0] == "n_nationkey"


def _load_fixture(tmp_path):
    reg = {
        "tables": [
            {"name": "Account", "pk": "Id", "lookups": {"ParentId": ["Account"]}},
            {"name": "Contact", "pk": "Id", "lookups": {"AccountId": ["Account"]}},
        ]
    }
    reg_path = tmp_path / "registry.json"
    reg_path.write_text(json.dumps(reg))
    acc_csv = tmp_path / "inputs" / "my_accounts.csv"
    con_csv = tmp_path / "inputs" / "my_contacts.csv"
    acc_csv.parent.mkdir(exist_ok=True)
    acc_csv.write_text("Id,Name,ParentId\nA1,HQ,\nA2,Branch,A1\n")
    con_csv.write_text("Id,AccountId\nC1,A1\nC2,A2\n")
    return reg_path, acc_csv, con_csv


def test_cli_load_honors_file_and_result_file_keys(spark, tmp_path):
    """Reference-style operation file with per-step `file:` inputs and
    a custom `result-file:` sink (`amaxa/loader/load_operation.py:83-119`).
    The data-dir catalog holds NO tables — inputs must come from the
    named CSVs, or the load fails."""
    reg_path, acc_csv, con_csv = _load_fixture(tmp_path)
    res_path = tmp_path / "custom-account-results.csv"
    op = {
        "version": 1,
        "operation": [
            {
                "sobject": "Account",
                "file": str(acc_csv),
                "result-file": str(res_path),
            },
            {"sobject": "Contact", "file": str(con_csv)},
        ],
    }
    op_path = tmp_path / "load.yml"
    op_path.write_text(yaml.safe_dump(op))
    out = tmp_path / "out"
    empty = tmp_path / "empty-data-dir"
    empty.mkdir()
    rc = main(
        [
            "load", str(op_path),
            "--data-dir", str(empty),
            "--registry", str(reg_path),
            "--out", str(out),
        ]
    )
    assert rc == 0
    acc = spark.read.parquet(str(out / "Account.parquet"))
    assert acc.count() == 2
    # custom result-file used for Account; default path for Contact
    res = spark.read.option("header", True).csv(str(res_path))
    assert {r["Original Id"] for r in res.collect()} == {"A1", "A2"}
    con_res = spark.read.option("header", True).csv(
        str(out / "Contact.results.csv")
    )
    assert {r["Original Id"] for r in con_res.collect()} == {"C1", "C2"}


def test_cli_load_pre_check_gates_the_load(spark, tmp_path):
    """--pre-check evaluates quality rules against step INPUTS and
    aborts before any write when a rule fails."""
    reg_path, acc_csv, con_csv = _load_fixture(tmp_path)
    op = {
        "version": 1,
        "operation": [
            {"sobject": "Account", "file": str(acc_csv)},
            {"sobject": "Contact", "file": str(con_csv)},
        ],
    }
    op_path = tmp_path / "load.yml"
    op_path.write_text(yaml.safe_dump(op))
    empty = tmp_path / "empty-data-dir"
    empty.mkdir()

    # failing rule: Name completeness on Account (ParentId blank row
    # exists, but Name is complete -> use a rule that actually fails)
    bad = {
        "version": 1,
        "checks": [
            {"table": "Account", "rules": [
                {"name": "parent_complete", "column": "ParentId",
                 "check": "completeness", "min": 1.0},
            ]}
        ],
    }
    bad_path = tmp_path / "bad.yml"
    bad_path.write_text(yaml.safe_dump(bad))
    out = tmp_path / "gated_out"
    rc = main(
        ["load", str(op_path), "--data-dir", str(empty),
         "--registry", str(reg_path), "--out", str(out),
         "--pre-check", str(bad_path)]
    )
    assert rc == 2
    assert not (out / "Account.parquet").exists()  # nothing written

    # passing rules: load proceeds normally
    good = {
        "version": 1,
        "checks": [
            {"table": "Account", "rules": [
                {"name": "pk_unique", "column": "Id",
                 "check": "uniqueness", "min": 1.0},
            ]},
            {"table": "Contact", "rules": [
                {"name": "fk_complete", "column": "AccountId",
                 "check": "completeness", "min": 1.0},
            ]},
        ],
    }
    good_path = tmp_path / "good.yml"
    good_path.write_text(yaml.safe_dump(good))
    rc = main(
        ["load", str(op_path), "--data-dir", str(empty),
         "--registry", str(reg_path), "--out", str(out),
         "--pre-check", str(good_path)]
    )
    assert rc == 0
    assert spark.read.parquet(str(out / "Account.parquet")).count() == 2


def test_cli_load_atomic_publishes_manifest(spark, tmp_path):
    """--atomic on load: tables land under a generation token and the
    manifest is the commit; readers resolve through it (parquet)."""
    from amaxa_spark.sources.catalog import read_committed_extract

    reg_path, acc_csv, con_csv = _load_fixture(tmp_path)
    op = {
        "version": 1,
        "operation": [
            {"sobject": "Account", "file": str(acc_csv)},
            {"sobject": "Contact", "file": str(con_csv)},
        ],
    }
    op_path = tmp_path / "load.yml"
    op_path.write_text(yaml.safe_dump(op))
    empty = tmp_path / "empty-data-dir"
    empty.mkdir()
    out = tmp_path / "atomic_out"
    rc = main(
        ["load", str(op_path), "--data-dir", str(empty),
         "--registry", str(reg_path), "--out", str(out), "--atomic"]
    )
    assert rc == 0
    got = read_committed_extract(spark, str(out))
    assert set(got) == {"Account", "Contact"}
    assert got["Account"].count() == 2 and got["Contact"].count() == 2
    # FKs were rewritten through the id map before publication
    accs = {r["Id"] for r in got["Account"].collect()}
    assert {r["AccountId"] for r in got["Contact"].collect()} <= accs


def test_cli_load_resume_appends_results(spark, tmp_path):
    """A resumed run appends only NEW results to the result sink
    (reference opens result files in 'a' mode under state:
    `amaxa/loader/load_operation.py:103-119`)."""
    reg_path, acc_csv, _ = _load_fixture(tmp_path)
    res_path = tmp_path / "acc-results.csv"
    op = {
        "version": 1,
        "operation": [
            {
                "sobject": "Account",
                "file": str(acc_csv),
                "result-file": str(res_path),
            }
        ],
    }
    op_path = tmp_path / "load.yml"
    op_path.write_text(yaml.safe_dump(op))
    out = tmp_path / "out"
    empty = tmp_path / "empty-data-dir"
    empty.mkdir()
    state = tmp_path / "state"
    base = [
        "load", str(op_path),
        "--data-dir", str(empty),
        "--registry", str(reg_path),
        "--out", str(out),
    ]
    rc = main(base + ["--save-state", str(state)])
    assert rc == 0
    first = spark.read.option("header", True).csv(str(res_path)).collect()
    assert {r["Original Id"] for r in first} == {"A1", "A2"}

    # new record appears in the input; resume appends ONLY its result
    acc_csv.write_text("Id,Name,ParentId\nA1,HQ,\nA2,Branch,A1\nA3,New,\n")
    rc = main(base + ["--state", str(state)])
    assert rc == 0
    rows = spark.read.option("header", True).csv(str(res_path)).collect()
    ids = sorted(r["Original Id"] for r in rows)
    assert ids == ["A1", "A2", "A3"]  # no duplicates re-appended


def test_cli_load_merge_buckets_layout(spark, tmp_path, capsys):
    """--merge-buckets writes loaded tables in the manifest-versioned
    PK-hash bucket layout (without --versioned, which is accepted and
    ignored), and the printed count is the init's observed one."""
    from amaxa_spark.sources.catalog import (
        MERGE_BUCKET_COL,
        _bucket_manifest,
        read_versioned_table,
    )

    reg_path, acc_csv, _ = _load_fixture(tmp_path)
    op = {
        "version": 1,
        "operation": [{"sobject": "Account", "file": str(acc_csv)}],
    }
    op_path = tmp_path / "load.yml"
    op_path.write_text(yaml.safe_dump(op))
    out = tmp_path / "out"
    empty = tmp_path / "empty"
    empty.mkdir()
    rc = main(
        [
            "load", str(op_path),
            "--data-dir", str(empty),
            "--registry", str(reg_path),
            "--out", str(out),
            "--merge-buckets", "4",
        ]
    )
    assert rc == 0
    assert "loaded Account: 2 records" in capsys.readouterr().out
    tbl = str(out / "Account.parquet")
    m = _bucket_manifest(tbl)
    assert m["n_buckets"] == 4 and 1 <= len(m["buckets"]) <= 4
    assert m["rows"] == 2
    got = read_versioned_table(spark, tbl)
    assert got.count() == 2 and MERGE_BUCKET_COL in got.columns


def test_cli_load_merge_buckets_applies_write_options(spark, tmp_path):
    """--merge-buckets applies the per-table advisory write options as
    --atomic and --merge-db do: bulk-api-batch-size caps the rows of
    every file (maxRecordsPerFile), even when Serial mode puts both
    rows of the one bucket in a single task."""
    import os

    import pyarrow.parquet as pq

    from amaxa_spark.sources.catalog import _bucket_manifest

    reg_path, acc_csv, _ = _load_fixture(tmp_path)
    op = {
        "version": 1,
        "operation": [
            {
                "sobject": "Account",
                "file": str(acc_csv),
                "options": {"bulk-api-batch-size": 1, "bulk-api-mode": "Serial"},
            }
        ],
    }
    op_path = tmp_path / "load.yml"
    op_path.write_text(yaml.safe_dump(op))
    out = tmp_path / "out"
    empty = tmp_path / "empty"
    empty.mkdir()
    rc = main(
        [
            "load", str(op_path),
            "--data-dir", str(empty),
            "--registry", str(reg_path),
            "--out", str(out),
            "--merge-buckets", "1",
        ]
    )
    assert rc == 0
    tbl = str(out / "Account.parquet")
    m = _bucket_manifest(tbl)
    leaf = os.path.join(tbl, m["buckets"]["0"], "__mb=0")
    rows = [
        pq.ParquetFile(os.path.join(leaf, f)).metadata.num_rows
        for f in os.listdir(leaf)
        if f.endswith(".parquet")
    ]
    assert rows == [1, 1]


def test_cli_load_versioned_layout(spark, tmp_path):
    """--merge-buckets --versioned writes the manifest-versioned
    layout: a committed manifest exists and merge_into_versioned can
    update it atomically."""
    from amaxa_spark.sources.catalog import (
        merge_into_versioned,
        read_versioned_table,
    )

    reg_path, acc_csv, _ = _load_fixture(tmp_path)
    op = {
        "version": 1,
        "operation": [{"sobject": "Account", "file": str(acc_csv)}],
    }
    op_path = tmp_path / "load.yml"
    op_path.write_text(yaml.safe_dump(op))
    out = tmp_path / "out_v"
    empty = tmp_path / "empty_v"
    empty.mkdir()
    rc = main(
        [
            "load", str(op_path),
            "--data-dir", str(empty),
            "--registry", str(reg_path),
            "--out", str(out),
            "--merge-buckets", "4", "--versioned",
        ]
    )
    assert rc == 0
    tbl = str(out / "Account.parquet")
    df = read_versioned_table(spark, tbl)
    assert df.count() == 2
    name_col = [c for c in df.columns if c.lower() == "name"][0]
    pk = [c for c in df.columns if c.lower() == "id"][0]
    some_id = df.collect()[0][pk]
    upd = spark.createDataFrame([(some_id, "Merged")], f"{pk} string, {name_col} string")
    merge_into_versioned(spark, tbl, upd, pk=pk, set_cols=[name_col])
    got = {r[pk]: r[name_col] for r in read_versioned_table(spark, tbl).collect()}
    assert got[some_id] == "Merged" and len(got) == 2


def test_cli_load_merge_db_transactional_layout(spark, tmp_path):
    """--merge-db publishes ALL loaded tables as ONE versioned-db
    transaction: both tables read back through the shared commit, and
    a later multi-table merge moves them together atomically."""
    from amaxa_spark.sources.catalog import (
        merge_into_versioned_db,
        read_versioned_db,
    )

    reg_path, acc_csv, con_csv = _load_fixture(tmp_path)
    op = {
        "version": 1,
        "operation": [
            {"sobject": "Account", "file": str(acc_csv)},
            {"sobject": "Contact", "file": str(con_csv)},
        ],
    }
    op_path = tmp_path / "load.yml"
    op_path.write_text(yaml.safe_dump(op))
    out = tmp_path / "out_db"
    empty = tmp_path / "empty_db"
    empty.mkdir()
    rc = main(
        [
            "load", str(op_path),
            "--data-dir", str(empty),
            "--registry", str(reg_path),
            "--out", str(out),
            "--merge-db", "4",
        ]
    )
    assert rc == 0
    acc = read_versioned_db(spark, str(out), "Account")
    con = read_versioned_db(spark, str(out), "Contact")
    assert acc.count() == 2 and con.count() == 2
    pk = [c for c in acc.columns if c.lower() == "id"][0]
    name_col = [c for c in acc.columns if c.lower() == "name"][0]
    a_id = acc.collect()[0][pk]
    c_pk = [c for c in con.columns if c.lower() == "id"][0]
    fk_col = [c for c in con.columns if c.lower() == "accountid"][0]
    c_id = con.collect()[0][c_pk]
    m = merge_into_versioned_db(
        spark,
        str(out),
        {
            "Account": spark.createDataFrame(
                [(a_id, "TxnName")], f"{pk} string, {name_col} string"
            ),
            "Contact": spark.createDataFrame(
                [(c_id, "TxnFk")], f"{c_pk} string, {fk_col} string"
            ),
        },
        set_cols={"Account": [name_col], "Contact": [fk_col]},
    )
    assert m["seq"] == 1
    got_a = {r[pk]: r[name_col] for r in
             read_versioned_db(spark, str(out), "Account").collect()}
    got_c = {r[c_pk]: r[fk_col] for r in
             read_versioned_db(spark, str(out), "Contact").collect()}
    assert got_a[a_id] == "TxnName" and got_c[c_id] == "TxnFk"

    # invalid layout combination rejected before any Spark work
    rc2 = None
    try:
        main(
            ["load", str(op_path), "--data-dir", str(empty),
             "--registry", str(reg_path), "--out", str(out),
             "--merge-db", "4", "--atomic"]
        )
    except SystemExit as e:
        rc2 = e.code
    assert rc2 == 2


def test_cli_profile_mode(spark, sf_dir, tmp_path, capsys):
    out = tmp_path / "prof"
    rc = main(["profile", "documents", "--data-dir", sf_dir, "--out", str(out)])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "documents.doc_id: rows=" in printed
    import pandas as pd

    pdf = pd.read_csv(out / "documents.profile.csv")
    assert set(pdf["column"]) == {"doc_id", "text", "lang", "source", "n_chars"}
    assert (pdf["n_rows"] == pdf["n_rows"].iloc[0]).all()


def test_cli_curate_mode(spark, sf_dir, tmp_path, capsys):
    """One-command curation: gate -> cluster -> representatives ->
    leakage-proof split; artifacts on disk, zero leakage, and the
    split totals account for every kept doc exactly once."""
    out = tmp_path / "curated"
    rc = main([
        "curate", "--data-dir", sf_dir, "--out", str(out),
        "--min-words", "20", "--min-required-hits", "1",
    ])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "leaking clusters 0" in printed
    kept = spark.read.parquet(str(out / "kept.parquet"))
    splits = spark.read.parquet(str(out / "splits.parquet"))
    n_kept = kept.count()
    assert 0 < n_kept < 500  # the gate actually discriminates
    assert splits.count() == n_kept
    assert splits.select("id").distinct().count() == n_kept
    flags = spark.read.parquet(str(out / "flags.parquet"))
    assert flags.count() == 500  # every doc got a verdict row
    import pandas as pd

    summary = pd.read_csv(out / "summary.csv")
    assert summary["docs"].sum() == n_kept


def test_cli_sql_mode_emits_live_duckdb_query(spark, tmp_path, capsys):
    """`sql` mode prints a DuckDB query for the live committed
    snapshot — no export, no Spark work; --token time-travels and
    --db emits one query per table."""
    import duckdb

    from amaxa_spark.__main__ import main
    from amaxa_spark.sources.catalog import (
        merge_into_versioned,
        write_versioned_db,
        write_versioned_table,
    )

    path = str(tmp_path / "vt_cli_sql")
    m0 = write_versioned_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "pk long, v string"),
        path, pk="pk", n_buckets=4,
    )
    merge_into_versioned(
        spark, path,
        spark.createDataFrame([(2, "B")], "pk long, v string"),
        pk="pk", set_cols=["v"],
    )
    assert main(["sql", path]) == 0
    sql = capsys.readouterr().out.strip()
    con = duckdb.connect()
    assert sorted(con.execute(f"SELECT pk, v FROM ({sql})").fetchall()) == [
        (1, "a"), (2, "B"),
    ]
    assert main(["sql", path, "--token", m0["token"]]) == 0
    sql0 = capsys.readouterr().out.strip()
    assert sorted(con.execute(f"SELECT pk, v FROM ({sql0})").fetchall()) == [
        (1, "a"), (2, "b"),
    ]

    db = str(tmp_path / "db_cli_sql")
    write_versioned_db(
        spark, db,
        {"t": spark.createDataFrame([(3, "z")], "pk long, v string")},
        pks={"t": "pk"}, n_buckets=2,
    )
    assert main(["sql", db, "--db"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("-- table: t\n")
    body = out.split("\n", 1)[1].strip().rstrip(";")
    assert con.execute(f"SELECT pk, v FROM ({body})").fetchall() == [(3, "z")]
    con.close()
