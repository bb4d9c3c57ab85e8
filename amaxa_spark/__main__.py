"""CLI — the engine's counterpart of the reference's console entry
(`/root/reference/amaxa/__main__.py:17-47`).

The "org" is a directory of Spark-readable tables plus a registry
JSON; credentials do not apply. Usage:

    python -m amaxa_spark extract op.yml --data-dir DIR --registry reg.json --out OUT
    python -m amaxa_spark load    op.yml --data-dir DIR --registry reg.json --out OUT \
        [--state STATE_DIR] [--save-state STATE_DIR]

Registry JSON shape (describe-style, SURVEY §1.2):
    {"tables": [{"name": ..., "pk": ..., "lookups": {col: [targets]},
                 "types": {col: type}, "key_prefix": ...}]}
"""

from __future__ import annotations

import argparse
import json
import logging
import sys

from pyspark.sql import functions as F

from amaxa_spark import constants

from amaxa_spark.config.loader import load_extract_config, load_load_config
from amaxa_spark.metadata import SchemaRegistry, TableMeta
from amaxa_spark.operators.extract import ExtractOperation
from amaxa_spark.operators.load import LoadOperation
from amaxa_spark.session import get_spark
from amaxa_spark.sources.catalog import TableCatalog, write_extract_csv, write_result_csv
from amaxa_spark.sources.state import load_state, save_state


log = logging.getLogger(__name__)


def apply_advisory_options(df, options: dict, table: str):
    """Map the reference's bulk-API tuning `options`
    (`/root/reference/amaxa/loader/schemas.py:72-114`) onto their Spark
    equivalents — batch size caps rows per output file, Serial mode
    forces a single-partition write. They are ADVISORY: accepted,
    validated, and visibly logged, never silently dropped."""
    write_opts: dict = {}
    if not options:
        return df, write_opts
    batch = options.get("bulk-api-batch-size")
    if batch:
        log.info(
            "%s: advisory bulk-api-batch-size=%d -> maxRecordsPerFile",
            table, batch,
        )
        write_opts["maxRecordsPerFile"] = batch
    if options.get("bulk-api-mode") == "Serial":
        log.info("%s: advisory bulk-api-mode=Serial -> single-partition write", table)
        df = df.coalesce(1)
    for k in ("bulk-api-timeout", "bulk-api-poll-interval", "api-version"):
        if k in options:
            log.info(
                "%s: option %s=%r accepted (advisory; no Spark-side effect)",
                table, k, options[k],
            )
    return df, write_opts


def load_registry(path: str) -> SchemaRegistry:
    with open(path) as f:
        doc = json.load(f)
    return SchemaRegistry(
        [
            TableMeta(
                name=t["name"],
                pk=t.get("pk", "Id"),
                lookups=t.get("lookups", {}),
                types=t.get("types", {}),
                key_prefix=t.get("key_prefix"),
            )
            for t in doc["tables"]
        ]
    )


def _sql_mode(argv: list[str]) -> int:
    """`python -m amaxa_spark sql TABLE_PATH [--db] [--table NAME]
    [--token T]` — print a DuckDB query for the LIVE committed
    snapshot of a versioned table (catalog.manifest_to_sql): no
    export, no copy, no Spark session. Pipe it straight into duckdb;
    re-run to follow the head."""
    from amaxa_spark.sources.catalog import db_manifest_to_sql, manifest_to_sql

    sp = argparse.ArgumentParser(prog="amaxa_spark sql")
    sp.add_argument("path", help="versioned table (or --db database) root")
    sp.add_argument("--token", help="time-travel to this snapshot token")
    sp.add_argument(
        "--as-of", dest="as_of",
        help="time-travel to the snapshot live at this time "
        "(epoch seconds or ISO-8601; resolved via token_as_of)",
    )
    sp.add_argument(
        "--db", action="store_true",
        help="path is a versioned-db root; emit one query per table "
        "(prefixed by `-- table: NAME`), all from ONE transaction",
    )
    sp.add_argument(
        "--table", action="append",
        help="--db: restrict to these tables (repeatable)",
    )
    args = sp.parse_args(argv)
    token = args.token
    if args.as_of is not None:
        if token is not None:
            sp.error("pass --token OR --as-of, not both")
        from amaxa_spark.sources.catalog import token_as_of

        # ISO-8601 first: a digit-only date like '20260815' parses as
        # float too, and treating it as epoch seconds (~1970) would
        # silently resolve the wrong snapshot. Only a string ISO
        # parsing rejects is tried as an epoch-seconds float.
        from datetime import datetime

        try:
            datetime.fromisoformat(args.as_of)
            ts = args.as_of  # ISO-8601 string: token_as_of parses it
        except ValueError:
            try:
                ts = float(args.as_of)
            except ValueError:
                ts = args.as_of  # let token_as_of raise its error
        token = token_as_of(args.path, ts)
    if args.db:
        for name, sql in db_manifest_to_sql(
            args.path, args.table, token
        ).items():
            print(f"-- table: {name}")
            print(f"{sql};")
    else:
        if args.table:
            sp.error("--table requires --db")
        print(manifest_to_sql(args.path, token))
    return 0


def _table_mode(argv: list[str]) -> int:
    """`python -m amaxa_spark table VERB ...` — operational commands
    for the versioned layouts. Metadata-only verbs (history, stats,
    restore, clone, vacuum) run with NO Spark session; optimize and
    rebucket start one."""
    import json

    sp = argparse.ArgumentParser(prog="amaxa_spark table")
    sub = sp.add_subparsers(dest="verb", required=True)

    h = sub.add_parser("history", help="chain-ordered commit log")
    h.add_argument("path")

    st = sub.add_parser(
        "stats", help="metadata-only count/min/max/nulls (zero scans)"
    )
    st.add_argument("path")
    st.add_argument("--token")
    st.add_argument(
        "--db", action="store_true",
        help="path is a versioned-db root: one stats block per table",
    )

    r = sub.add_parser(
        "restore", help="metadata-only rollback to a retained token"
    )
    r.add_argument("path")
    r.add_argument("token")
    r.add_argument("--db", action="store_true")

    c = sub.add_parser(
        "clone", help="hard-link shallow clone with its own chain"
    )
    c.add_argument("src")
    c.add_argument("dst")
    c.add_argument("--token")

    o = sub.add_parser("optimize", help="compaction / clustering rewrite")
    o.add_argument("path")
    o.add_argument("--max-files", type=int, default=1)
    o.add_argument(
        "--cluster-by", action="append",
        help="comma-separated sort columns; with --db use TABLE:c1,c2 "
        "(repeatable, one per table)",
    )
    o.add_argument(
        "--zorder-by", action="append",
        help="comma-separated Z-order columns; with --db use "
        "TABLE:c1,c2 (repeatable, one per table)",
    )
    o.add_argument(
        "--files-per-bucket", type=int, default=1,
        help="range-split each rewritten bucket into k sorted "
        "key-disjoint files (applies per table with --db)",
    )
    o.add_argument(
        "--min-dv-frac", type=float, default=0.0,
        help="materialize merge-on-read (DV/overlay) buckets only "
        "when invalidated-fraction >= this (footer metadata only)",
    )
    o.add_argument("--db", action="store_true")

    rb = sub.add_parser(
        "rebucket", help="partition evolution: change the bucket count"
    )
    rb.add_argument("path")
    rb.add_argument("n_buckets", type=int)

    rn = sub.add_parser(
        "rename-column",
        help="metadata-only RENAME COLUMN (column mapping: parquet "
        "files keep the original physical name; zero rewrites)",
    )
    rn.add_argument("path")
    rn.add_argument("old")
    rn.add_argument("new")
    rn.add_argument("--db", action="store_true")
    rn.add_argument(
        "--table", help="--db: the table to rename the column on"
    )

    cc = sub.add_parser(
        "compact-chain",
        help="fold the commit-chain prefix into a checkpoint commit "
        "and delete the folded files (bounds chain metadata; "
        "time travel by token is untouched)",
    )
    cc.add_argument("path")
    cc.add_argument(
        "--keep-last", type=int, default=None,
        help="commits to keep above the fold (default CHECKPOINT_EVERY)",
    )
    cc.add_argument("--min-age-s", type=float, default=0.0)
    cc.add_argument(
        "--dry-run", action="store_true",
        help="report the fold point and file count; delete nothing",
    )

    v = sub.add_parser("vacuum", help="reclaim unreferenced generations")
    v.add_argument("path")
    v.add_argument("--keep-last", type=int, default=1)
    v.add_argument("--min-age-s", type=float, default=0.0)
    v.add_argument("--db", action="store_true")
    v.add_argument(
        "--dry-run", action="store_true",
        help="list the generation dirs that would be removed; "
        "delete nothing",
    )

    args = sp.parse_args(argv)
    from amaxa_spark.sources import catalog as C

    if args.verb == "history":
        for row in C.history_versioned(args.path):
            print(json.dumps(row, sort_keys=True))
    elif args.verb == "stats":
        fn = C.versioned_db_stats if args.db else C.versioned_table_stats
        try:
            out = fn(args.path, args.token)
        except (KeyError, ValueError) as e:
            # a db root passed without --db (or vice versa) must say
            # so, not die on the manifest's shape
            sp.error(
                f"{args.path}: {e} — for a versioned-db root pass "
                "--db; for a single table omit it"
            )
        print(json.dumps(out, indent=1, sort_keys=True))
    elif args.verb == "restore":
        m = (C.restore_versioned_db if args.db else C.restore_versioned)(
            args.path, args.token
        )
        print(f"restored to {args.token}: new head seq {m['seq']} "
              f"token {m['token']}")
    elif args.verb == "clone":
        m = C.clone_versioned(args.src, args.dst, token=args.token)
        print(f"cloned -> {args.dst} (token {m['token']})")
    elif args.verb == "optimize":
        from amaxa_spark.session import get_spark

        spark = get_spark("amaxa-table-optimize")

        def per_table(vals, flag):
            # --db form: TABLE:c1,c2 (repeatable) -> {table: [cols]}
            out = {}
            for v in vals or []:
                name, sep, cols = v.partition(":")
                if not sep or not name or not cols:
                    sp.error(f"{flag} with --db takes TABLE:c1,c2 "
                             f"(got {v!r})")
                out[name] = cols.split(",")
            return out or None

        def single(vals, flag):
            # table form: one comma-separated list
            if not vals:
                return None
            if len(vals) > 1 or ":" in vals[0]:
                sp.error(f"{flag} without --db takes ONE "
                         "comma-separated column list")
            return vals[0].split(",")

        if args.db:
            _, compacted = C.optimize_versioned_db(
                spark, args.path, max_files=args.max_files,
                cluster_by=per_table(args.cluster_by, "--cluster-by"),
                zorder_by=per_table(args.zorder_by, "--zorder-by"),
                files_per_bucket=args.files_per_bucket,
                min_dv_frac=args.min_dv_frac,
            )
        else:
            _, compacted = C.optimize_versioned(
                spark, args.path, max_files=args.max_files,
                cluster_by=single(args.cluster_by, "--cluster-by"),
                zorder_by=single(args.zorder_by, "--zorder-by"),
                files_per_bucket=args.files_per_bucket,
                min_dv_frac=args.min_dv_frac,
            )
        print(f"rewrote {len(compacted)} bucket(s)")
    elif args.verb == "compact-chain":
        res = C.compact_commit_chain(
            args.path,
            keep_last=(
                C.CHECKPOINT_EVERY
                if args.keep_last is None
                else args.keep_last
            ),
            min_age_s=args.min_age_s,
            dry_run=args.dry_run,
        )
        if res["folded_at"] is None:
            print(f"nothing to fold (floor {res['floor']})")
        else:
            print(
                f"{'would fold' if args.dry_run else 'folded'} at seq "
                f"{res['folded_at']}: {res['removed']} commit file(s) "
                f"{'to remove' if args.dry_run else 'removed'}"
            )
    elif args.verb == "rebucket":
        from amaxa_spark.session import get_spark

        spark = get_spark("amaxa-table-rebucket")
        m = C.rebucket_versioned(spark, args.path, args.n_buckets)
        print(f"rebucketed to {m['n_buckets']} buckets "
              f"(seq {m['seq']} token {m['token']})")
    elif args.verb == "rename-column":
        if args.db and not args.table:
            sp.error("--db requires --table")
        if args.table and not args.db:
            sp.error("--table requires --db")
        if args.db:
            m = C.alter_versioned_db_rename_column(
                args.path, args.table, args.old, args.new
            )
        else:
            m = C.alter_versioned_rename_column(
                args.path, args.old, args.new
            )
        print(f"renamed {args.old} -> {args.new} "
              f"(seq {m['seq']} token {m['token']})")
    elif args.verb == "vacuum":
        removed = (
            C.vacuum_versioned_db if args.db else C.vacuum_versioned
        )(args.path, keep_last=args.keep_last, min_age_s=args.min_age_s,
          dry_run=args.dry_run)
        if args.dry_run:
            for r in removed:
                print(r)
            print(f"would remove {len(removed)} generation dir(s)")
        else:
            print(f"removed {len(removed)} generation dir(s)")
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    if argv and argv[0] == "sql":
        # the sql mode shares nothing with the operation modes (no
        # data-dir/registry/out, no Spark) — parse it separately
        return _sql_mode(argv[1:])
    if argv and argv[0] == "table":
        return _table_mode(argv[1:])
    p = argparse.ArgumentParser(prog="amaxa_spark")
    p.add_argument(
        "mode", choices=["extract", "load", "check", "profile", "curate"]
    )
    p.add_argument(
        "operation",
        nargs="?",
        help="operation YAML/JSON file (extract/load/check); for "
        "profile: comma-separated table names; for curate: the "
        "documents table name (default 'documents')",
    )
    p.add_argument("--text-col", default="text", help="curate: text column")
    p.add_argument("--id-col", default="doc_id", help="curate: id column")
    p.add_argument(
        "--min-words",
        type=int,
        default=50,
        help="curate: Gopher word-count floor (paper default 50)",
    )
    p.add_argument(
        "--min-required-hits",
        type=int,
        default=2,
        help="curate: Gopher required-stopword floor (paper default 2)",
    )
    p.add_argument(
        "--max-doc-freq",
        type=int,
        default=256,
        help="curate: stop-shingle cap for near-dup pairing — shingles "
        "in more than this many docs are excluded from candidate "
        "generation (0 disables the cap; exact but quadratic on "
        "boilerplate shingles)",
    )
    p.add_argument(
        "--strip-lines",
        action="store_true",
        help="curate: remove inter-document duplicated lines before "
        "gating (FineWeb/CCNet boilerplate pass)",
    )
    p.add_argument(
        "--strip-spans",
        action="store_true",
        help="curate: remove cross-document repeated 5-gram spans "
        "before gating (Lee et al. substring dedup)",
    )
    p.add_argument("--data-dir", required=True)
    p.add_argument("--registry", help="required for extract/load")
    p.add_argument("--out", required=True)
    p.add_argument("--format", default="parquet", choices=["parquet", "csv", "json"])
    p.add_argument(
        "--atomic",
        action="store_true",
        help="extract/load: commit all tables via the manifest "
        "protocol (all-or-nothing across tables)",
    )
    p.add_argument(
        "--pre-check",
        help="load: quality-rules YAML evaluated against each step's "
        "INPUT before anything is written; any failing rule aborts "
        "the load (exit 2)",
    )
    p.add_argument("--state", help="resume from this state directory")
    p.add_argument("--save-state", help="write state here on failure/success")
    p.add_argument(
        "--merge-buckets",
        type=int,
        help="load: write each table in the manifest-versioned PK-hash "
        "bucket layout (catalog.write_versioned_table) so later "
        "merges (merge_into_versioned) rewrite only affected buckets, "
        "commit atomically and time-travel per merge",
    )
    p.add_argument(
        "--versioned",
        action="store_true",
        help="accepted for compatibility and ignored: --merge-buckets "
        "always writes the versioned layout",
    )
    p.add_argument(
        "--merge-db",
        type=int,
        metavar="N_BUCKETS",
        help="load: publish ALL loaded tables as ONE multi-table "
        "transaction on the versioned-db layout "
        "(catalog.write_versioned_db) — readers always see a "
        "cross-table-consistent snapshot, and later "
        "merge_into_versioned_db transactions move tables together",
    )
    p.add_argument(
        "-k",
        "--check-only",
        action="store_true",
        help="extract/load: validate the operation (config, tables, "
        "fields, strict input columns) and exit without moving data — "
        "the reference's -k flag",
    )
    p.add_argument("-v", "--verbose", action="store_true")
    args = p.parse_args(argv)

    logging.basicConfig(level=logging.INFO if args.verbose else logging.WARNING)
    if args.mode not in ("profile", "curate") and not args.operation:
        p.error(f"{args.mode} requires an operation file")
    for flag, val in (("merge-buckets", args.merge_buckets),
                      ("merge-db", args.merge_db)):
        if val is not None and val < 1:
            # 0 is not "off" — it would silently fall through to the
            # plain overwrite layout while looking like a merge layout
            p.error(f"--{flag} requires a bucket count >= 1")
    if args.mode == "load" and sum(
        1
        for f in (args.atomic, args.merge_buckets is not None,
                  args.merge_db is not None)
        if f
    ) > 1:
        # reject invalid layout combinations BEFORE any Spark work —
        # failing after LoadOperation.run() would pay for the whole
        # load. Load-only: extract --atomic is a supported feature and
        # the merge layouts have never applied outside load.
        p.error(
            "--atomic, --merge-buckets, and --merge-db are mutually "
            "exclusive layouts"
        )
    spark = get_spark("amaxa_spark_cli")
    catalog = TableCatalog(spark, args.data_dir, fmt=args.format)

    if args.mode == "profile":
        # rule-free column profiling: the describe sweep that seeds
        # rule writing (quality.profile); one aggregation per table
        import os

        from amaxa_spark.operators.quality import profile

        if not args.operation:
            p.error("profile requires comma-separated table names")
        os.makedirs(args.out, exist_ok=True)
        for table in args.operation.split(","):
            table = table.strip()
            pdf = profile(catalog[table]).toPandas()
            pdf.to_csv(f"{args.out}/{table}.profile.csv", index=False)
            for r in pdf.itertuples(index=False):
                print(
                    f"{table}.{r.column}: rows={r.n_rows} "
                    f"nulls={r.n_nulls} ({r.null_ratio}) "
                    f"distinct={r.n_distinct} ({r.distinct_ratio})"
                )
        return 0

    if args.mode == "check":
        # declarative data-quality gate: every table's rules compile
        # to ONE aggregation pass (operators/quality.py); exit 1 when
        # any constraint fails — the CI-able corpus audit
        import os

        from amaxa_spark.config.loader import load_quality_config
        from amaxa_spark.operators.quality import check_constraints

        os.makedirs(args.out, exist_ok=True)
        any_failed = False
        for table, rules in load_quality_config(args.operation):
            pdf = check_constraints(catalog[table], rules).toPandas()
            pdf.to_csv(f"{args.out}/{table}.quality.csv", index=False)
            for r in pdf.itertuples(index=False):
                status = "PASS" if r.passed else "FAIL"
                print(
                    f"{status} {table}.{r.rule} [{r.check} on "
                    f"{r.column}] value={r.value}"
                )
                any_failed = any_failed or not r.passed
        return 1 if any_failed else 0

    if args.mode == "curate":
        # one-command corpus curation: gopher gate -> near-dup
        # clustering -> representatives -> leakage-proof split
        # (operators/curate.py); exit 1 if the leakage audit is
        # nonzero (it is 0 by construction — the audit is the proof)
        import os

        from amaxa_spark.operators.curate import audit_leakage, curate_corpus

        table = (args.operation or "documents").strip()
        os.makedirs(args.out, exist_ok=True)
        res = curate_corpus(
            catalog[table],
            text_col=args.text_col,
            id_col=args.id_col,
            jaccard_max_doc_freq=args.max_doc_freq or None,
            gopher_kwargs={
                "min_words": args.min_words,
                "min_required_hits": args.min_required_hits,
            },
            strip_lines=args.strip_lines,
            strip_spans=args.strip_spans,
        )
        res["kept"].write.mode("overwrite").parquet(f"{args.out}/kept.parquet")
        res["splits"].write.mode("overwrite").parquet(
            f"{args.out}/splits.parquet"
        )
        res["flags"].write.mode("overwrite").parquet(
            f"{args.out}/flags.parquet"
        )
        # counts come from the parquet just written (footer metadata —
        # no extra corpus scan; flags has exactly one row per input doc)
        n_total = spark.read.parquet(f"{args.out}/flags.parquet").count()
        n_kept = spark.read.parquet(f"{args.out}/kept.parquet").count()
        leaks = audit_leakage(res)
        pdf = res["summary"].toPandas()
        pdf.to_csv(f"{args.out}/summary.csv", index=False)
        print(f"curated {table}: kept {n_kept}/{n_total}, "
              f"leaking clusters {leaks}")
        for r in pdf.itertuples(index=False):
            print(f"  {r.split}: docs={r.docs} tokens={r.tokens}")
        return 1 if leaks else 0

    if not args.registry:
        p.error("--registry is required for extract/load")
    registry = load_registry(args.registry)

    if args.mode == "extract":
        steps = load_extract_config(args.operation)
        op = ExtractOperation(spark, catalog, registry, steps)
        if args.check_only:
            from amaxa_spark.operators.extract import ExtractError

            try:
                op._validate()
            except ExtractError as e:
                print(str(e), file=sys.stderr)
                return 1
            print("configuration valid; no data was extracted")
            return 0
        results = op.run()
        if args.atomic:
            from amaxa_spark.sources.catalog import atomic_extract_write

            manifest = atomic_extract_write(
                results,
                args.out,
                pk={t: registry[t].pk for t in results},
                record_counts=True,
            )
            for table, entry in manifest["tables"].items():
                print(f"extracted {table}: {entry['rows']} records")
            print(f"committed generation {manifest['token']}")
            return 0
        step_options = {s.table: s.options for s in steps}
        for table, df in results.items():
            pk = registry[table].pk
            df, write_opts = apply_advisory_options(
                df, step_options.get(table, {}), table
            )
            write_extract_csv(
                df, f"{args.out}/{table}.csv", pk=pk, write_options=write_opts
            )
            print(f"extracted {table}: {df.count()} records")
        return 0

    steps = load_load_config(args.operation)
    if args.check_only:
        errors = LoadOperation(spark, registry, steps, catalog).validate()
        if errors:
            for e in errors:
                print(e, file=sys.stderr)
            return 1
        print("configuration valid; no data was loaded")
        return 0
    if args.pre_check:
        # fail-stop BEFORE any write: garbage inputs never reach the
        # two-phase replay (the reference validates input columns;
        # this validates input CONTENT)
        from amaxa_spark.config.loader import load_quality_config
        from amaxa_spark.operators.quality import check_constraints

        inputs = {
            s.table: (
                spark.read.option("header", True).csv(s.input_path)
                if s.input_path is not None
                else catalog[s.table]
            )
            for s in steps
        }
        any_failed = False
        for table, rules in load_quality_config(args.pre_check):
            if table not in inputs:
                print(f"FAIL {table}: not a load step", file=sys.stderr)
                any_failed = True
                continue
            for r in check_constraints(inputs[table], rules).collect():
                status = "PASS" if r["passed"] else "FAIL"
                print(
                    f"{status} {table}.{r['rule']} [{r['check']} on "
                    f"{r['column']}] value={r['value']}"
                )
                any_failed = any_failed or not r["passed"]
        if any_failed:
            print("pre-check failed; nothing loaded", file=sys.stderr)
            return 2
    result_paths = {s.table: s.result_path for s in steps}
    prior, stage = None, "inserts"
    if args.state:
        stage, prior = load_state(spark, args.state)
    op = LoadOperation(
        spark, registry, steps, catalog, prior_id_map=prior, start_stage=stage
    )
    try:
        res = op.run()
    except Exception:
        if args.save_state:
            save_state(args.save_state, "inserts", op.result.id_map)
            print(f"state saved to {args.save_state}", file=sys.stderr)
        raise
    step_options = {s.table: s.options for s in steps}
    prepared = {
        table: apply_advisory_options(df, step_options.get(table, {}), table)
        for table, df in res.written.items()
    }
    counts: dict[str, int] = {}
    if args.merge_db:
        # ONE transaction publishes every loaded table on the
        # versioned-db layout — cross-table atomicity (the multi-table
        # twin of --merge-buckets)
        from amaxa_spark.sources.catalog import write_versioned_db

        m = write_versioned_db(
            spark,
            args.out,
            {t: d for t, (d, _) in prepared.items()},
            pks={t: registry[t].pk for t in prepared},
            n_buckets=args.merge_db,
            # advisory per-table write options (e.g. maxRecordsPerFile
            # from bulk-api-batch-size) apply on this layout exactly
            # as they do for --atomic
            write_options={t: w for t, (_, w) in prepared.items()},
        )
        counts = {t: e["rows"] for t, e in m["tables"].items()}
        print(f"committed transaction {m['token']} (seq {m['seq']})")
    if args.atomic:
        # all-or-nothing publication of the loaded tables (manifest
        # protocol, load-side twin of extract --atomic); result-file
        # sinks and advisory options apply exactly as non-atomic
        from amaxa_spark.sources.catalog import atomic_load_publish

        manifest = atomic_load_publish(
            {t: d for t, (d, _) in prepared.items()},
            args.out,
            record_counts=True,
            write_options={t: w for t, (_, w) in prepared.items()},
        )
        counts = {t: e["rows"] for t, e in manifest["tables"].items()}
        print(f"committed generation {manifest['token']}")
    for table, (df, write_opts) in prepared.items():
        if not args.atomic and not args.merge_db:
            if args.merge_buckets:
                # manifest-versioned layout: later merges are ATOMIC
                # per commit (catalog.merge_into_versioned)
                from amaxa_spark.sources.catalog import write_versioned_table

                counts[table] = write_versioned_table(
                    df,
                    f"{args.out}/{table}.parquet",
                    pk=registry[table].pk,
                    n_buckets=args.merge_buckets,
                    write_options=write_opts,
                )["rows"]
            else:
                w = df.write.mode("overwrite")
                for k, v in write_opts.items():
                    w = w.option(k, v)
                w.parquet(f"{args.out}/{table}.parquet")
        n_err = res.errors[table].count() if table in res.errors else 0
        n_rows = counts.get(table, None)
        if n_rows is None:
            n_rows = df.count()
        print(f"loaded {table}: {n_rows} records, {n_err} errors")
        id_map = res.id_map[table].select(
            F.col("old_id").alias(constants.ORIGINAL_ID),
            F.col("new_id").alias(constants.NEW_ID),
            F.lit("").alias(constants.ERROR),
        )
        if args.state and prior and table in prior:
            # resume appends only results NOT already recorded by the
            # interrupted run (`amaxa/loader/load_operation.py:103-119`
            # opens result files in "a" mode under state)
            done = prior[table].select(
                F.col("old_id").alias(constants.ORIGINAL_ID)
            )
            id_map = id_map.join(done, constants.ORIGINAL_ID, "left_anti")
        if table in res.errors:
            id_map = id_map.unionByName(
                res.errors[table].select(
                    F.col("old_id").alias(constants.ORIGINAL_ID),
                    F.lit("").alias(constants.NEW_ID),
                    F.col("error").alias(constants.ERROR),
                )
            )
        # `result-file:` names the per-step sink
        # (`amaxa/loader/schemas.py:289-293`); default mirrors the
        # reference's `<sobject>-results.csv` under --out
        path = result_paths.get(table) or f"{args.out}/{table}.results.csv"
        write_result_csv(id_map, path, append=bool(args.state))
    if args.save_state:
        save_state(args.save_state, "dependents", res.id_map)
    return 0


if __name__ == "__main__":
    sys.exit(main())
