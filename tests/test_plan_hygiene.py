"""Repo-wide physical-plan hygiene: EVERY gate query's plan is built
at sf0.001 and linted for the two anti-patterns that silently kill a
100 TB run:

- ``CartesianProduct`` / table×table ``BroadcastNestedLoopJoin`` — an
  accidental cross product is O(n²) at scale. Joins of 1-row scalar
  aggregates (the scalar-subquery pattern) broadcast and are fine;
  real cartesian products are not.
- ``BatchEvalPython`` / ``PythonUDF`` outside Arrow — a row-at-a-time
  Python UDF caps throughput at ~10⁴ rows/s/core. The engine's only
  Python boundaries must be Arrow-batched
  (``ArrowEvalPython`` / ``FlatMapGroupsInPandas`` / ``MapInPandas``).

This is the executable form of the scale contract the docstrings
claim — a new query that sneaks in a cross join or a row UDF fails CI
here, not in production.

The nested-loop check walks the plan TREE: for each
BroadcastNestedLoopJoin it locates the build (broadcast) side from the
node header and requires that subtree to contain a global aggregate
(``keys=[]`` — exactly one output row), so the broadcast is N×1.  A
substring test on the whole plan is NOT enough: every BNLJ prints
``BroadcastExchange IdentityBroadcastMode`` — including a true
table×table non-equi join — so the old check could never fire
(round-5 review); ``test_lint_catches_table_cross_join`` pins the
lint's teeth.
"""

import re

import pytest

import __spark_entry__ as entry

QUERIES = entry.queries()

# a global (ungrouped) aggregate emits exactly one row — the only
# thing a nested-loop join is allowed to broadcast
_SCALAR_AGG = re.compile(
    r"(HashAggregate|SortAggregate|ObjectHashAggregate)\(keys=\[\]"
)

# Queries whose nested-loop joins deliberately broadcast a SMALL,
# BOUNDED side that is not a 1-row aggregate. Every entry documents
# the bound; anything NOT listed here must broadcast a scalar
# aggregate or the lint fails. A stale entry (query no longer builds a
# BNLJ) also fails, so the list cannot rot.
_BOUNDED_BROADCAST_OK = {
    # brute-force ANN baselines: broadcast side is the FIXED QUERY SET
    # (tens of rows by construction) scored against every corpus
    # vector — the documented N×k exact path whose scale twins are the
    # LSH/IVF queries (similarity.py:37-152)
    "ann_cosine_topk": "fixed query-vector set (k rows)",
    "ann_quantized_topk": "fixed query-vector set (k rows)",
    "ann_lsh_recall": "fixed query-vector set (k rows)",
    "rerank_ann": "fixed query-vector set (k rows)",
    # binary-code Hamming scan: broadcast side is the fixed query set
    # (|_ANN_QUERY_IDS| rows of 8-byte codes at ANY corpus scale); the
    # corpus side streams through xor+popcount with no shuffle
    "ann_binary_topk": "fixed query-code set broadcast (3 rows)",
    "knn_join_exact": "query TABLE bounded to 5 rows in the gate query",
    # (round 11: the IVF / IVF-PQ / SemDeDup codebook broadcasts are
    # gone — assignment and probing run as narrow literal-codebook
    # expressions, so those queries no longer build any BNLJ)
    # exact-verify baseline bounded to a FIXED probe set: broadcast
    # side is exactly _EMB_PROBE_N=50 vectors at any corpus scale
    # (dedup.embedding_cosine_verify); the bucketed sibling
    # dedup_embedding_cosine_lsh is the whole-corpus scale path
    "dedup_embedding_cosine": "fixed 50-probe set broadcast in the gate query",
    # count-of-counts Gini: non-equi join against the GEOMETRIC BUCKET
    # boundary table (O(log n) rows, stats.py:61-128)
    "key_gini": "geometric bucket-boundary table (~log n rows)",
}


def _walk(node):
    # AdaptiveSparkPlanExec reports NO children (its tree lives behind
    # `initialPlan`) — unwrap it, or the walk sees only the AQE root
    # and the lint is as vacuous as the substring check it replaces
    if node.nodeName() == "AdaptiveSparkPlan":
        yield from _walk(node.initialPlan())
        return
    yield node
    children = node.children()
    for i in range(children.length()):
        yield from _walk(children.apply(i))


def bnlj_violations(df) -> list[str]:
    """Header lines of every BroadcastNestedLoopJoin whose broadcast
    side is NOT a 1-row scalar aggregate."""
    plan = df._jdf.queryExecution().executedPlan()
    bad = []
    for node in _walk(plan):
        # match the NODE NAME, not the header text: wrapper nodes
        # (WholeStageCodegen under a non-AQE session) print their
        # codegen'd child's header as their own first line, so a
        # substring test would dereference the wrapper's single child
        # with the join's build index and crash the walk
        if node.nodeName() != "BroadcastNestedLoopJoin":
            continue
        header = node.toString().splitlines()[0]
        build = 1 if "BuildRight" in header else 0
        side = node.children().apply(build).toString()
        if not _SCALAR_AGG.search(side):
            bad.append(header.strip())
    return bad


@pytest.mark.parametrize("name", list(QUERIES))
def test_plan_hygiene(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # row-at-a-time Python is forbidden everywhere; Arrow batching is
    # the only legal Python boundary
    assert "BatchEvalPython" not in plan, f"{name}: row-wise Python UDF"
    # no true cartesian products
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    # every nested-loop join must broadcast a scalar (1-row) aggregate
    # unless the query documents a bounded broadcast above
    bad = bnlj_violations(df)
    if name in _BOUNDED_BROADCAST_OK:
        assert bad, (
            f"{name}: stale _BOUNDED_BROADCAST_OK entry — the plan no "
            "longer builds a non-scalar nested-loop join; remove it"
        )
    else:
        assert not bad, f"{name}: table×table nested-loop join: {bad}"


def test_lint_catches_table_cross_join(spark):
    """The lint must FAIL a genuine table×table non-equi join — the
    shape whose plan string also prints ``IdentityBroadcastMode``
    (which made the old substring check vacuous)."""
    a = spark.range(1000).withColumnRenamed("id", "x")
    b = spark.range(50).withColumnRenamed("id", "y")
    df = a.join(b, a["x"] > b["y"])
    assert bnlj_violations(df), "non-equi table join must be flagged"


def test_lint_allows_scalar_broadcast(spark):
    """...while the N×1 scalar-aggregate broadcast stays legal."""
    from pyspark.sql import functions as F

    a = spark.range(1000).withColumnRenamed("id", "x")
    s = a.agg(F.max("x").alias("mx"))
    df = a.crossJoin(F.broadcast(s)).where(F.col("x") == F.col("mx"))
    assert bnlj_violations(df) == []


# the versioned commit core: the only functions allowed to claim a
# chain seq. Every data commit goes through the CAS loop
# (_commit_tables), every metadata commit through _commit_meta_edit;
# the rest are the unconditional full-rewrite claim (one init body,
# _write_tables, for both layouts) and the clone's seq-0 claim. A new
# verb with its own claim loop fails here.
_CLAIM_SITES = {
    "_commit_tables",
    "_commit_meta_edit",
    "_write_tables",
    "clone_versioned",
}

# the only functions allowed to write a generation of bucket files:
# the copy-on-write writer (MERGE, DELETE, UPDATE, CDC-apply), the
# merge-on-read writer (DV DELETE, DV UPDATE) and OPTIMIZE, whose
# clustered and range-split layouts the writers do not make. A verb
# with its own write tail fails here.
_WRITE_SITES = {"_copy_on_write", "_merge_on_read", "_optimize_table_body"}


def _assert_only_in(name: str, sites: set) -> None:
    """Only the top-level catalog functions in ``sites`` call
    ``name``, once each."""
    import ast
    import os

    src = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "amaxa_spark", "sources", "catalog.py",
    )
    with open(src) as f:
        tree = ast.parse(f.read())
    callers = []
    for fn in tree.body:
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == name
            ):
                callers.append(getattr(fn, "name", f"<line {fn.lineno}>"))
    assert set(callers) <= sites, sorted(set(callers) - sites)
    assert len(callers) <= len(sites), sorted(callers)


def test_claims_only_in_commit_core():
    _assert_only_in("_claim_commit", _CLAIM_SITES)


def test_generation_writes_only_in_the_writers():
    _assert_only_in("_write_generation", _WRITE_SITES)


def _package_dir(*parts):
    import os

    return os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "amaxa_spark", *parts,
    )


def _bucket_hash_sites(tree) -> list[str]:
    """Names of the functions holding a ``pmod`` over ``xxhash64``:
    a Column call chain, or SQL text that spells it."""
    import ast
    import re

    sql = re.compile(r"pmod\s*\(\s*xxhash64", re.IGNORECASE)

    def called(node, name):
        f = node.func if isinstance(node, ast.Call) else None
        return (isinstance(f, ast.Attribute) and f.attr == name) or (
            isinstance(f, ast.Name) and f.id == name
        )

    sites = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        hit = (
            called(node, "pmod")
            and any(called(n, "xxhash64") for n in ast.walk(node))
        ) or (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and sql.search(node.value)
        )
        if hit:
            sites.append(fn or f"<module line {node.lineno}>")
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return sites


def test_bucket_hash_only_in_bucket_expr():
    """One bucket layout, one hash: the bucket of a key is computed
    only by ``_bucket_expr``. A second inline copy of the pmod/xxhash64
    chain could drift in its casts and file rows under buckets that no
    reader or merge looks in."""
    import ast
    import os

    sites = {}
    for sub in ("sources", "streaming"):
        d = _package_dir(sub)
        for name in sorted(os.listdir(d)):
            if name.endswith(".py"):
                with open(os.path.join(d, name)) as f:
                    found = _bucket_hash_sites(ast.parse(f.read()))
                if found:
                    sites[f"{sub}/{name}"] = found
    assert sites == {"sources/catalog.py": ["_bucket_expr"]}, sites


def test_bucket_hash_lint_has_teeth():
    import ast

    src = (
        "def write(df, n):\n"
        "    return df.withColumn('b', F.pmod(F.xxhash64(F.col('k')), F.lit(n)))\n"
        "def sql(t):\n"
        "    return f'SELECT pmod(xxhash64(k), 4) FROM {t}'\n"
    )
    assert _bucket_hash_sites(ast.parse(src)) == ["write", "sql"]
