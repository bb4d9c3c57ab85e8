"""Similarity search over embedding columns (``array<float>``).

Beyond-reference surface: approximate-nearest-neighbor over the
``embeddings`` table. Two paths:

- :func:`cosine_topk` — exact brute-force top-k for a (small) query
  set: broadcast the queries, JVM-side ``zip_with``/``aggregate`` dot
  products (no Python in the hot path), window top-k per query. The
  correctness baseline.
- :func:`lsh_cosine_topk` — the scale path: random-hyperplane (sign)
  LSH with deterministic md5-derived hyperplanes; candidates share a
  code bucket with the query (multi-probe across bands), then exact
  re-rank inside the bucket. At 100 TB the bucket join replaces the
  full cross product; recall is tunable by bands × bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id.

    Returns (query_id, neighbor_id, sim) with sim rounded to 6
    decimals; ties broken by neighbor id (deterministic).
    """
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col), vecd.alias("__v"))
    q = base.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("__qv"),
        _norm(F.col("__v")).alias("__qn"),
    )
    # hoist each side's norm to one evaluation per ROW — the same
    # expressions the per-pair plan evaluated q×n times, so every
    # value is byte-identical (a corpus-side spread was tried here and
    # measured SLOWER at sf0.1: the q×n dot volume is too small to
    # repay the repartition stage)
    corpus = base.select(
        id_col, "__v", _norm(F.col("__v")).alias("__nn")
    )
    pairs = corpus.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
    sim = _dot(F.col("__qv"), F.col("__v")) / (
        F.col("__qn") * F.col("__nn")
    )
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(sim, 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def cosine_topk_pandas(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors via a vectorized Pandas UDF —
    the scale path for brute-force scoring. Same output contract as
    :func:`cosine_topk` (query_id, neighbor_id, sim, rank).

    Where :func:`cosine_topk` evaluates the dot product with
    interpreted higher-order functions per pair, this path streams
    the corpus through ``mapInPandas`` in Arrow batches and scores
    each batch against the (broadcast-small) query matrix with one
    numpy matmul — BLAS throughput instead of per-element lambda
    interpretation. Each batch emits only its local top-k per query
    under the final total order (sim desc, neighbor asc), so the
    shuffle into the global window top-k carries ≤ k·n_queries rows
    per batch, never the corpus.
    """
    import numpy as np

    q_rows = (
        emb.where(F.col(id_col).isin(list(query_ids)))
        .select(id_col, vec_col)
        .collect()
    )
    if not q_rows:
        raise ValueError("no query vectors found for the given ids")
    qids_l = [r[0] for r in q_rows]
    Q = np.array([list(r[1]) for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            # Arrow hands each cell over as a numpy array already —
            # np.stack is a C-level copy; building Python lists per
            # row would dominate the whole batch cost
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            S = Mn @ Qn.T  # (batch, n_queries)
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(qids_l):
                # round BEFORE the partial top-k so batch-local and
                # global selection use the identical total order.
                # Half-AWAY-FROM-ZERO to match SQL ROUND / F.round —
                # np.round is banker's and diverges at .5e-6
                # boundaries (residual last-ulp summation differences
                # vs the JVM fold are only probabilistically absorbed)
                raw = S[:, j]
                s = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
                mask = ids != qid
                s_j, id_j = s[mask], ids[mask]
                order = np.lexsort((id_j, -s_j))[:k]
                out_q.extend([qid] * len(order))
                out_n.extend(id_j[order].tolist())
                out_s.extend(s_j[order].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "sim": out_s}
            )

    partial = emb.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _scale_out(df: DataFrame) -> DataFrame:
    """Spread a small input across idle cores before per-row-heavy
    evaluation (interpreted HOF dot products): when the plan yields
    fewer partitions than defaultParallelism (a small file / single
    row group), round-robin repartition so the work parallelizes;
    otherwise NO-OP — at scale the scan already has ≥ p splits and no
    shuffle is added. Scale-adaptive by plan inspection (guide §2:
    derive partitioning from the input, never a local-mode
    constant)."""
    if df.isStreaming:
        # streaming frames have no static partitioning to inspect
        # (`.rdd` raises); micro-batch parallelism is the source's
        # concern — pass through untouched
        return df
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def _fold_norm(cv: list[float]) -> float:
    """Driver-side twin of :func:`_norm`: the identical left fold over
    the identical doubles (Python float IS IEEE754 double, both folds
    accumulate left-to-right), so the value is byte-identical to the
    JVM expression it replaces."""
    import math

    acc = 0.0
    for x in cv:
        acc += x * x
    return math.sqrt(acc)


def _fold_dot(a: list[float], b: list[float]) -> float:
    """Driver-side twin of :func:`_dot`: the identical left fold
    (``acc = (acc + a_i·b_i)`` in element order) over IEEE754 doubles,
    byte-identical to the JVM ``aggregate``/``zip_with`` expression."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _sql_double(x: float) -> str:
    """Exact double literal for a SQL expression string: ``repr`` is
    the shortest round-trip decimal and the D-suffix literal parses to
    the nearest (= identical) double — ONE plan node per value (a
    CAST('…' AS DOUBLE) form doubles the node count and every
    optimizer pass walks it)."""
    return f"{x!r}D"


# above this many input partitions, _collect_group_means re-aggregates
# its per-partition partials in-plan before the collect (two-level
# merge): 64 × keys × dim doubles is still a trivial driver read, while
# a 100 TB scan's 10⁵-10⁶ partitions would put GBs of Row objects on
# the driver. Below the bound no exchange is added (the bench-scale
# path is byte-unchanged).
_PARTIAL_MERGE_MAX_PARTS = 64


def _round6_halfup(x: float) -> float:
    """Byte-identical driver twin of ``F.round(col, 6)`` on doubles:
    Spark rounds the SHORTEST-REPR decimal of the double
    (BigDecimal.valueOf → Double.toString) HALF_UP at scale 6;
    Python's ``repr`` produces the same shortest round-trip string,
    and Decimal.quantize(HALF_UP) the same decimal, so the re-encoded
    double is identical."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if not math.isfinite(x):
        return x
    return float(
        Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
    )


def _collect_group_means(
    df: DataFrame,
    key_cols: list,
    vec_col: str,
    n_parts: int | None = None,
) -> dict:
    """ONE-JOB grouped per-component means for a Lloyd iteration:
    a mapInPandas pass emits per-partition (keys, component sums,
    count) partials — no shuffle, no second AQE stage job (each job
    costs ~0.5 s of scheduling on the bench host, and an aggregate is
    two of them) — the driver merges partitions in order and rounds
    half-up at 1e-6 (:func:`_round6_halfup`, the byte-identical twin
    of ``F.round(F.avg(...), 6)`` modulo summation-order last-ulps,
    which the rounding absorbs exactly as it already does between the
    JVM and the DuckDB oracle). Collected partial volume is bounded by
    keys × dim × min(partitions, _PARTIAL_MERGE_MAX_PARTS) — above the
    bound an in-plan re-aggregation (same accumulation, keyed by group)
    caps the collect at keys × dim regardless of the scan's partition
    count. Returns {key_tuple: [rounded means]}."""
    import numpy as np

    def partials(batches):
        import pandas as pd

        sums: dict = {}
        cnts: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            keys = list(zip(*(pdf[k].to_numpy() for k in key_cols)))
            vecs = pdf[vec_col].to_numpy()
            uniq = {}
            for i, kt in enumerate(keys):
                uniq.setdefault(kt, []).append(i)
            for kt, idxs in uniq.items():
                M = np.stack([np.asarray(vecs[i], dtype=np.float64) for i in idxs])
                acc = sums.get(kt)
                if acc is None:
                    acc = np.zeros(M.shape[1], dtype=np.float64)
                    sums[kt] = acc
                    cnts[kt] = 0
                # sequential accumulation in row order (np.add.at is
                # unbuffered/in-order), matching the JVM's running sum
                for row in M:
                    np.add(acc, row, out=acc)
                cnts[kt] += len(idxs)
        if not sums:
            # yield nothing for an empty task: an empty pandas frame
            # types "__s" float64, which Arrow cannot convert to
            # list<double>
            return
        out_keys = sorted(sums.keys())
        yield pd.DataFrame(
            {
                **{
                    k: [kt[j] for kt in out_keys]
                    for j, k in enumerate(key_cols)
                },
                "__s": [sums[kt].tolist() for kt in out_keys],
                "__n": [cnts[kt] for kt in out_keys],
            }
        )

    import pandas as pd  # noqa: F401  (used inside partials)

    key_schema = ", ".join(
        f"{k} {df.schema[k].dataType.simpleString()}" for k in key_cols
    )
    part_schema = f"{key_schema}, __s array<double>, __n long"
    parts_df = df.select(*key_cols, vec_col).mapInPandas(
        partials, schema=part_schema
    )
    # TWO-LEVEL MERGE above _PARTIAL_MERGE_MAX_PARTS input partitions:
    # the collected partial volume is keys × dim × PARTITIONS rows —
    # a few MB at ≤64 partitions (bounded driver read, no extra
    # exchange at bench scale), but GBs of Row objects at a 100 TB
    # scan's 10⁵-10⁶ partitions (guide §5: the driver does no data
    # work). Re-keying the partials by group and running the same
    # accumulation once more bounds the collect at keys × dim rows
    # regardless of partition count; the tiny keys×dim×P exchange is
    # noise next to the corpus pass that produced the partials.
    # Cross-partition merge ORDER changes under the re-key — absorbed
    # by the terminal round-6 exactly as the JVM-vs-oracle summation
    # order always was (re-verified vs the oracle at 3 SFs).
    # ``n_parts`` lets the Lloyd loops pass the training frame's
    # partition count ONCE per training: `.rdd` here would re-run
    # full physical planning of the literal-codebook argmax (K×dim
    # double literals) on every iteration — measured seconds of
    # driver time per training.
    if n_parts is None:
        n_parts = parts_df.rdd.getNumPartitions()
    if n_parts > _PARTIAL_MERGE_MAX_PARTS:

        def merge_partials(batches):
            import pandas as pd

            sums: dict = {}
            cnts: dict = {}
            for pdf in batches:
                if not len(pdf):
                    continue
                keys = list(zip(*(pdf[k].to_numpy() for k in key_cols)))
                svals = pdf["__s"].to_numpy()
                nvals = pdf["__n"].to_numpy()
                for i, kt in enumerate(keys):
                    acc = sums.get(kt)
                    if acc is None:
                        sums[kt] = [float(x) for x in svals[i]]
                        cnts[kt] = int(nvals[i])
                    else:
                        sums[kt] = [a + b for a, b in zip(acc, svals[i])]
                        cnts[kt] += int(nvals[i])
            if not sums:
                return
            out_keys = sorted(sums.keys())
            yield pd.DataFrame(
                {
                    **{
                        k: [kt[j] for kt in out_keys]
                        for j, k in enumerate(key_cols)
                    },
                    "__s": [sums[kt] for kt in out_keys],
                    "__n": [cnts[kt] for kt in out_keys],
                }
            )

        parts_df = parts_df.repartition(
            *[F.col(k) for k in key_cols]
        ).mapInPandas(merge_partials, schema=part_schema)
    parts = parts_df.collect()
    totals: dict = {}
    counts: dict = {}
    for r in parts:
        kt = tuple(r[k] for k in key_cols)
        s = totals.get(kt)
        if s is None:
            totals[kt] = list(r["__s"])
            counts[kt] = int(r["__n"])
        else:
            totals[kt] = [a + b for a, b in zip(s, r["__s"])]
            counts[kt] += int(r["__n"])
    return {
        kt: [_round6_halfup(s / counts[kt]) for s in totals[kt]]
        for kt in totals
    }


def _rows_of(cent: DataFrame) -> list[tuple[int, list[float]]]:
    """Driver-held (cid, __cv) rows of a codebook frame, sorted by
    cid. BOUNDED by construction (K or m·k rows — a constant, never
    the corpus; the pandas assignment path has always collected it).
    Frames produced by :func:`kmeans_codebook` carry their rows along
    (``_amaxa_cb_rows``) so internal consumers skip the collect."""
    rows = getattr(cent, "_amaxa_cb_rows", None)
    if rows is not None:
        return rows
    return sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in cent.select("cid", "__cv").collect()
    )


def _local_q_frame(base: DataFrame, id_field: str, q_rows) -> DataFrame:
    """The bounded query set as a LOCAL (query_id, __qv) relation,
    rebuilt from rows a fused driver collect already holds: the
    collected doubles round-trip exactly, so downstream expressions
    see byte-identical values while the probe / re-rank plan stops
    re-deriving the corpus scan + normalize lineage for a handful of
    rows. ``query_id`` keeps the id column's REAL type (the output
    schema gate compares types)."""
    from pyspark.sql.types import (
        ArrayType, DoubleType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("query_id", base.schema[id_field].dataType, True),
            StructField("__qv", ArrayType(DoubleType()), True),
        ]
    )
    return base.sparkSession.createDataFrame(
        [(i, list(v)) for i, v in q_rows], schema
    )


def _cb_literal(rows: list[tuple[int, list[float]]], cid_suffix: str = "L"):
    """The codebook as ONE literal ``array<struct<cid,__cv,__cn>>``
    expression, built as a single ``F.expr`` string (element-wise
    ``F.lit``/``F.struct`` costs thousands of py4j round trips —
    measured 1.3-3 s of driver time per assignment at K=16·d=64 —
    and a broadcast join of the same K rows pays a measured
    ~0.4-0.7 s of broadcast-exchange machinery per job; the parsed
    literal costs ~5 ms and keeps the whole assignment NARROW).
    Centroid norms are precomputed with the byte-identical driver
    fold (:func:`_fold_norm`)."""
    entries = ", ".join(
        "named_struct('cid', {cid}{sfx}, '__cv', array({cv}), '__cn', {cn})"
        .format(
            cid=cid,
            sfx=cid_suffix,
            cv=", ".join(_sql_double(x) for x in cv),
            cn=_sql_double(_fold_norm(cv)),
        )
        for cid, cv in rows
    )
    return F.expr(f"array({entries})")


def _nearest_cid_cos(vec, vec_norm, cb_arr):
    """Rounded-cosine argmax against a codebook array column, ties to
    the LOWEST cid — the same contract as the old broadcast-join +
    max_by plan, evaluated as ONE narrow expression per row:
    array_max over (sim, -cid) structs is the identical lexicographic
    comparison max_by used. The cosine itself is the same
    ``aggregate``/``zip_with`` fold, so every rounded value is
    byte-identical."""
    scored = F.transform(
        cb_arr,
        lambda s: F.struct(
            F.round(_dot(vec, s["__cv"]) / (vec_norm * s["__cn"]), 6)
            .alias("__s"),
            (-s["cid"]).alias("__nc"),
            s["cid"].alias("cid"),
        ),
    )
    return F.array_max(scored)["cid"]


def _pq_cb_literal(rows_by_seg):
    """The m·k product-quantization codebook as one literal
    ``array<array<array<double>>>`` (seg → code → sub-centroid),
    positions = code+1: sub-centroid ids are dense 0..k-1 by the seed
    rule (asserted). Same single-``F.expr``-string rationale as
    :func:`_cb_literal`."""
    for seg_rows in rows_by_seg:
        assert [c for c, _ in seg_rows] == list(range(len(seg_rows))), (
            "pq codebook cids must be dense 0..k-1"
        )
    segs_sql = ", ".join(
        "array({})".format(
            ", ".join(
                "array({})".format(", ".join(_sql_double(x) for x in cv))
                for _cid, cv in seg_rows
            )
        )
        for seg_rows in rows_by_seg
    )
    return F.expr(f"array({segs_sql})")


def _probe_cells_expr(cb_lit, qv, nprobe: int):
    """The ``nprobe`` best cell ids for a query vector as one narrow
    expression: rounded cosine against every literal centroid, sorted
    (sim DESC, cid ASC) by an ascending array_sort over exact
    (-sim, cid) structs, sliced to ``nprobe`` — the same selection the
    old broadcast-join + window row_number plan made."""
    qn = _norm(qv)
    scored = F.transform(
        cb_lit,
        lambda s: F.struct(
            (-F.round(_dot(qv, s["__cv"]) / (qn * s["__cn"]), 6)).alias("__k"),
            s["cid"].alias("cid"),
        ),
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, nprobe), lambda s: s["cid"]
    )


def _assign_rows_hof(base: DataFrame, rows, id_col: str) -> DataFrame:
    """The hof assignment against a driver-held codebook: one narrow
    literal-argmax projection (see :func:`assign_cells` for the
    contract)."""
    cb_lit = _cb_literal(rows)
    return (
        base
        .select(id_col, "__v", _norm(F.col("__v")).alias("__vn"))
        .select(
            id_col,
            "__v",
            _nearest_cid_cos(F.col("__v"), F.col("__vn"), cb_lit).alias("cid"),
        )
    )


def assign_cells(
    base: DataFrame,
    cent: DataFrame,
    id_col: str,
    impl: str = "hof",
) -> DataFrame:
    """Nearest-centroid assignment: for every row of ``base``
    (``id_col``, ``__v: array<double>``) pick the centroid from
    ``cent`` (``cid``, ``__cv``) with the highest cosine, rounded to
    6 decimals, ties to the LOWEST cid. Returns (``id_col``, ``__v``,
    ``cid``).

    ``id_col`` must be NUMERIC: the lowest-cid tiebreak is expressed
    as numeric negation on the hof path and an int64 codebook on the
    pandas path (validated here, loudly — a string id would
    silently cast to NULL inside the hof argmax struct and make tie
    resolution nondeterministic, the worst kind of wrong). Hash or
    zip non-numeric document ids to a surrogate first.

    Both impls honor the identical rounded-argmax contract:

    - ``hof`` — broadcast join vs the K-row codebook, JVM
      ``aggregate``/``zip_with`` cosine per (vector, centroid),
      ``max_by`` argmax. The cross-engine determinism baseline (the
      DuckDB oracle replays it as row_number over a cross join).
    - ``pandas`` — one Arrow-batched ``mapInPandas`` pass; each batch
      scores against the K×dim centroid matrix with a single numpy
      matmul (BLAS), half-up-rounds at 1e-6, and takes the row argmax
      (first max ⇒ lowest cid, matching the ``hof`` tiebreak). K×N
      interpreted lambda evaluations collapse into one GEMM — this is
      the index-build scale path. Residual last-ulp summation
      differences vs the JVM fold are only probabilistically absorbed
      by the rounding, exactly as documented on
      :func:`cosine_topk_pandas`.

    Scale shape (both): the codebook is K rows (collected/broadcast —
    bounded by K×dim, never the corpus); the corpus streams through
    once, and the output carries one row per vector.
    """
    from pyspark.sql.types import NumericType

    if not isinstance(base.schema[id_col].dataType, NumericType):
        raise TypeError(
            f"assign_cells: id column {id_col!r} must be numeric "
            f"(got {base.schema[id_col].dataType.simpleString()}) — "
            "hash or zip non-numeric ids to a surrogate first"
        )
    if impl == "hof":
        # argmax: max sim, ties to the LOWEST cid — identical to the
        # oracle's row_number ... ORDER BY s DESC, cid ASC ... rn = 1.
        # The codebook rides along as a LITERAL array (bounded, see
        # _cb_literal), so assignment is one narrow per-row argmax:
        # no join, no per-vector shuffle, no argmax aggregate (the
        # old plan sort-aggregated every vector because the vector
        # array sat in the grouping key). The vector's own norm is
        # hoisted to one evaluation per row (same expression → same
        # value; the old plan recomputed it per centroid pair).
        rows = _rows_of(cent)
        if not rows:
            raise ValueError("empty codebook")
        return _assign_rows_hof(base, rows, id_col)
    if impl != "pandas":
        raise ValueError(f"unknown assign impl {impl!r}")

    import numpy as np

    cent_rows = _rows_of(cent)
    if not cent_rows:
        raise ValueError("empty codebook")
    cids = np.array([r[0] for r in cent_rows], dtype=np.int64)
    C = np.array([list(r[1]) for r in cent_rows], dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    def assign(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            raw = Mn @ Cn.T  # (batch, K)
            # round half-AWAY-FROM-ZERO before the argmax so the
            # selection order is byte-identical to the hof path
            S = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
            # np.argmax returns the FIRST max; columns are sorted by
            # ascending cid, so ties resolve to the lowest cid
            best = cids[np.argmax(S, axis=1)]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "__v": pdf["__v"],
                    "cid": best,
                }
            )

    # the id column passes through untouched — carry its REAL type
    # (int/bigint both appear in practice)
    id_type = base.schema[id_col].dataType.simpleString()
    return base.select(id_col, "__v").mapInPandas(
        assign, schema=f"{id_col} {id_type}, __v array<double>, cid long"
    )


def kmeans_codebook(
    base: DataFrame,
    n_centroids: int,
    iters: int = 3,
    id_col: str = "vec_id",
    train_mod: int | None = None,
    assign_impl: str = "hof",
    seed_rows: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Deterministic k-means codebook as DataFrame aggregations.

    ``base`` carries ``(id_col, __v: array<double>)``. Seeds are the
    ``n_centroids`` lowest-id vectors; each Lloyd iteration assigns
    every (training) vector to its nearest centroid by cosine rounded
    to 6 decimals (ties by cid) and replaces each centroid with the
    element-wise mean of its members, rounded per component to 6
    decimals so both engines compute the next round from byte-identical
    codebooks. A centroid whose cell empties keeps its previous value.
    Returns ``(cid, __cv)``.

    Scale shape: assignment is a broadcast join against the K-row
    codebook followed by a ``max_by`` argmax aggregation — the ×K
    expansion collapses in map-side partial aggregation (same input
    partition), so the shuffle carries each training vector ONCE, with
    no per-vector sort (a window row_number would shuffle and sort all
    K candidate rows per vector). The mean is posexplode → (cid, pos)
    partial avg — that shuffle carries only K×dim partial aggregates
    per partition, never vectors. ``train_mod`` trains on the
    deterministic ``id % mod = 0`` subsample — at 100 TB the codebook
    needs a sliver of the corpus, and the oracle can replay the same
    WHERE clause. ``assign_impl="pandas"`` swaps each iteration's
    assignment for the BLAS twin (see :func:`assign_cells`) — same
    rounded-argmax contract, so the trained codebook is identical
    modulo last-ulp rounding edges.
    """
    from pyspark.sql.types import NumericType

    if not isinstance(base.schema[id_col].dataType, NumericType):
        raise TypeError(
            f"kmeans_codebook: id column {id_col!r} must be numeric "
            f"(got {base.schema[id_col].dataType.simpleString()}) — "
            "hash or zip non-numeric ids to a surrogate first"
        )
    train = base if train_mod is None else base.where(
        F.col(id_col) % train_mod == 0
    )
    if iters > 0:
        # materialize the training frame ONCE, spread across cores
        # (MLlib caches its k-means input for the same reason): the
        # loop scans it `iters` times, and without this every
        # iteration re-derives the scan lineage on however few
        # partitions the small input file yields. Lazy checkpoint —
        # the first iteration's job materializes it, no dedicated job.
        train = _scale_out(train).localCheckpoint(eager=False)
    spark = base.sparkSession
    # `seed_rows` is the collect-fusion seam: a caller that already
    # holds the n_centroids lowest-id (id, vector) rows (e.g. IVF-PQ,
    # whose ONE TakeOrdered job serves coarse seeds, PQ residual seeds
    # and the bounded query set) passes them in and the dedicated seed
    # job is skipped — the values are the identical collected doubles,
    # so the trained codebook is byte-identical.
    if seed_rows is not None:
        cur = sorted(
            (int(i), [float(x) for x in v]) for i, v in seed_rows
        )[:n_centroids]
    else:
        cur = sorted(
            (int(r[0]), [float(x) for x in r[1]])
            for r in base.orderBy(F.col(id_col).asc())
            .limit(n_centroids)
            .select(F.col(id_col).alias("cid"), F.col("__v").alias("__cv"))
            .collect()
        )
    if not cur:
        # fail loudly like the pandas assign path — an empty codebook
        # would otherwise return silently empty results downstream
        raise ValueError("kmeans_codebook: no vectors to seed from")

    def cent_df(rows):
        df = spark.createDataFrame(
            [(cid, cv) for cid, cv in rows], "cid long, __cv array<double>"
        )
        # carry the driver-held rows so downstream assignment /
        # literal builders skip re-collecting the local relation
        df._amaxa_cb_rows = rows
        return df

    # The codebook lives on the DRIVER between iterations (K×dim
    # doubles — bounded, the FAISS shape): one Lloyd iteration is ONE
    # job — narrow literal-argmax assignment (see assign_cells) feeding
    # the per-(cid,pos) partial-average shuffle whose K×dim result
    # collects straight back. The old plan paid, per iteration, a
    # codebook broadcast exchange, a per-vector argmax shuffle, a
    # second tiny shuffle, a K-row join and an eager localCheckpoint.
    # the training frame's partition count, computed ONCE (cheap plan:
    # scan + optional repartition) and passed to every iteration's
    # means pass — see _collect_group_means on why it must not be
    # re-derived from the literal-heavy assignment plan
    train_parts = train.rdd.getNumPartitions() if iters > 0 else 0
    for _ in range(iters):
        assign = (
            _assign_rows_hof(train, cur, id_col)
            if assign_impl == "hof"
            else assign_cells(train, cent_df(cur), id_col, impl=assign_impl)
        ).select("cid", "__v")
        means = _collect_group_means(
            assign, ["cid"], "__v", n_parts=train_parts
        )
        # a centroid whose cell empties keeps its previous value
        cur = [
            (cid, means.get((cid,), cv))
            for cid, cv in cur
        ]
    out = cent_df(cur)
    # expose the materialized training frame: when it IS the whole
    # corpus (train_mod None) a composing index build (IVF-PQ's
    # residual encode) can read the checkpointed rows instead of
    # re-deriving the corpus scan + normalize lineage — one fewer
    # full corpus pass at scale. Row VALUES are identical; only the
    # (already arbitrary) partitioning differs.
    if iters > 0 and train_mod is None:
        out._amaxa_train_ckpt = train
    return out


def ivf_cosine_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    kmeans_iters: int = 3,
    train_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_impl: str = "hof",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into cells by
    nearest centroid, probe only the ``nprobe`` cells nearest each
    query, exact re-rank inside them.

    The codebook is a real (deterministic) k-means — see
    :func:`kmeans_codebook`; ``kmeans_iters=0`` recovers the old
    lowest-id-seed behavior. Cell assignment and probing round
    similarities to 6 decimals and break ties by centroid id, so
    results are reproducible across engines.

    ``codebook`` is the amortization seam: pass a previously trained
    ``(cid, __cv)`` frame (from :func:`kmeans_codebook`, typically
    persisted once per corpus snapshot) and the Lloyd training is
    skipped entirely — the per-query-batch cost drops to assignment +
    probe. The bench's gate query deliberately prices the
    train-included worst case.

    At 100 TB: the assignment is a broadcast join against the codebook
    (K rows); the probe join hits only nprobe/K of the corpus, which
    is what replaces the full cross product.
    """
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col), vecd.alias("__v"))
    qsrc = None
    if codebook is not None:
        cent = codebook
    else:
        # ONE TakeOrdered job serves the k-means seeds AND the bounded
        # query vectors (guide §2.4 fewer actions): the limit subtree
        # yields the n_centroids lowest ids, the filter subtree the
        # queries — the identical doubles the dedicated seed collect
        # and the in-plan probe filter produced. The probe then reads
        # a LOCAL relation instead of re-deriving the assignment
        # lineage (on the pandas impl that lineage is an OPAQUE
        # mapInPandas the isin filter cannot push below — the probe
        # side re-ran the whole GEMM pass for 3 rows).
        tagged = (
            base.orderBy(F.col(id_col).asc()).limit(n_centroids)
            .withColumn("__src", F.lit(0))
            .unionByName(
                base.where(F.col(id_col).isin(query_ids))
                .withColumn("__src", F.lit(1))
            )
        )
        collected = tagged.collect()
        seed_rows = sorted(
            (int(r[id_col]), [float(x) for x in r["__v"]])
            for r in collected
            if r["__src"] == 0
        )
        q_rows = sorted(
            (r[id_col], [float(x) for x in r["__v"]])
            for r in collected
            if r["__src"] == 1
        )
        cent = kmeans_codebook(
            base, n_centroids, iters=kmeans_iters, id_col=id_col,
            train_mod=train_mod, assign_impl=assign_impl,
            seed_rows=seed_rows,
        )
        qsrc = _local_q_frame(base, id_col, q_rows)
    rows = _rows_of(cent)
    # corpus→cell assignment (see assign_cells: hof = narrow
    # literal-codebook argmax, no join/shuffle; pandas = one GEMM
    # per Arrow batch — the index-build scale path)
    assign = (
        _assign_rows_hof(base, rows, id_col)
        if assign_impl == "hof"
        else assign_cells(base, cent, id_col, impl=assign_impl)
    )
    # per-query nprobe best cells as ONE narrow expression: rounded
    # cosine per centroid (literal codebook again), sorted by
    # (sim DESC, cid ASC) via ascending (-sim, cid) struct sort —
    # identical selection to the old BNLJ + per-query window
    # row_number ≤ nprobe plan, minus the broadcast exchange and the
    # window shuffle (negation of the ROUNDED sim is exact)
    probe = (
        (
            qsrc
            if qsrc is not None
            else assign.where(F.col(id_col).isin(query_ids)).select(
                F.col(id_col).alias("query_id"),
                F.col("__v").alias("__qv"),
            )
        )
        .select(
            "query_id",
            "__qv",
            _probe_cells_expr(
                _cb_literal(rows), F.col("__qv"), nprobe
            ).alias("__pc"),
        )
        .select("query_id", "__qv", F.explode("__pc").alias("cid"))
    )
    cand = (
        probe.join(assign, "cid")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col("__qv"),
            F.col(id_col).alias("neighbor_id"),
            F.col("__v").alias("__nv"),
        )
        .distinct()
    )
    sim = _dot(F.col("__qv"), F.col("__nv")) / (
        _norm(F.col("__qv")) * _norm(F.col("__nv"))
    )
    scored = cand.select("query_id", "neighbor_id", F.round(sim, 6).alias("sim"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def tune_nprobe(
    emb: DataFrame,
    target_recall: float,
    k: int = 10,
    n_queries: int = 20,
    n_centroids: int = 16,
    candidates: tuple = (1, 2, 4, 8),
    kmeans_iters: int = 3,
    train_mod: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Pick the smallest IVF ``nprobe`` whose measured recall@k meets
    ``target_recall`` — the calibration step `tools/ivf_recall.py`
    records as a curve, packaged as an operator.

    Ground truth is exact :func:`cosine_topk` over a deterministic
    hash-spread sample of ``n_queries`` ACTUAL id values (works for
    any id space — sparse, offset, or non-numeric, unlike the recall
    harness's dense-index spread); the codebook is trained ONCE and
    checkpointed, so
    each candidate evaluation pays only assignment + probe. Candidates
    are tried ascending; ``n_centroids`` itself is always the final
    fallback — probing every cell IS the exact search, so recall 1.0
    is reachable and the tuner always terminates with a valid setting.

    Returns ``{"nprobe", "recall", "curve"}`` where ``curve`` maps
    every evaluated nprobe to its measured recall@k.

    At 100 TB: tuning cost is one brute-force pass over a BOUNDED
    query sample (n_queries · corpus scored via the broadcast query
    matrix) plus ≤ |candidates| probe runs against the shared
    codebook — amortized once per corpus snapshot, after which
    production queries run at the chosen nprobe. Recall measured on a
    uniform-sphere corpus is the documented worst case (SCALE_NOTES
    "IVF recall curve"): real embedding manifolds reach the same
    recall at smaller nprobe, so the tuned value is conservative.
    """
    if not 0.0 <= target_recall <= 1.0:
        raise ValueError(f"target_recall must be in [0, 1], got {target_recall}")
    n = emb.count()
    if n < 2:
        raise ValueError("tune_nprobe needs at least 2 vectors")
    # deterministic query sample over the ACTUAL id values (never
    # assume a dense 0..n-1 id space): a hash-stripe filter reduces
    # the corpus to ~n_queries ids of any type before they reach the
    # driver (for corpora near n_queries the stripe is everything —
    # fine, it is small by definition), then a STRIDED take over the
    # sorted sample keeps the selection spread across the id range
    # rather than collapsing to the lowest block (id order often
    # correlates with ingestion time, and a contiguous block would
    # calibrate recall on a biased region)
    step = max(1, n // n_queries)
    sampled = sorted(
        r[0]
        for r in emb.where(
            F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(step)) == 0
        )
        .select(id_col)
        .collect()
    )
    stride = max(1, len(sampled) // n_queries)
    query_ids = sampled[::stride][:n_queries]
    if not query_ids:
        # degenerate hash stripe (tiny corpora): fall back to the
        # lowest ids — still deterministic
        query_ids = [
            r[0]
            for r in emb.select(id_col).orderBy(id_col).limit(n_queries).collect()
        ]
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(
            emb, query_ids, k=k, id_col=id_col, vec_col=vec_col
        ).collect()
    }
    if not truth:
        raise ValueError(
            "tune_nprobe: exact ground truth is empty for the sampled "
            f"query ids {query_ids[:5]}... — cannot calibrate recall"
        )
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col), vecd.alias("__v"))
    codebook = kmeans_codebook(
        base, n_centroids, iters=kmeans_iters, id_col=id_col,
        train_mod=train_mod,
    ).localCheckpoint(eager=True)  # K rows; train once, probe many
    plan = sorted({c for c in candidates if 0 < c < n_centroids})
    plan.append(n_centroids)
    curve: dict[int, float] = {}
    for nprobe in plan:
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_cosine_topk(
                emb, query_ids, k=k, n_centroids=n_centroids,
                nprobe=nprobe, id_col=id_col, vec_col=vec_col,
                codebook=codebook,
            ).collect()
        }
        curve[nprobe] = len(got & truth) / max(len(truth), 1)
        if curve[nprobe] >= target_recall:
            return {"nprobe": nprobe, "recall": curve[nprobe], "curve": curve}
    # unreachable in practice: nprobe = n_centroids probes every cell,
    # i.e. exact search (recall 1.0 ≥ any valid target); kept as a
    # defensive return for k > corpus-size corner cases
    best = max(curve, key=lambda c: (curve[c], -c))
    return {"nprobe": best, "recall": curve[best], "curve": curve}


def label_centroids(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-class prototype vectors in LONG form: one row per (label,
    position) with the component mean rounded to 6 decimals and the
    class size. The class-prototype primitive behind centroid-based
    classification, k-means seeding, per-class drift monitoring, and
    outlier scoring (distance-to-own-centroid).

    Long form (label, pos, c, n) rather than re-assembled arrays on
    purpose: the output stays a plain aggregatable table (joins,
    diffs, and the DuckDB oracle all read it directly), and
    re-assembly is one ``array_sort(collect_list(...))`` away when a
    vector is wanted (see :func:`kmeans_codebook`'s mean step, which
    is this exact aggregation shape).

    Scale shape: posexplode → (label, pos) partial aggregation —
    map-side combine collapses each partition to |labels|×dim partial
    sums, so the one shuffle carries aggregates, never vectors. ``n``
    is per-(label,pos) count, equal to the class size for uniform
    dims (a ragged corpus would surface as differing n within a
    label — a data-quality signal, not hidden).
    """
    return (
        emb.select(
            F.col(label_col).alias("label"),
            F.posexplode(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("pos", "__val"),
        )
        # 1-based positions to match SQL generate_subscripts
        .select("label", (F.col("pos") + 1).cast("int").alias("pos"), "__val")
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg("__val"), 6).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def centroid_outliers(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    p: float = 0.75,
    id_col: str = "vec_id",
) -> DataFrame:
    """Mislabeled-sample detection: squared distance of each vector
    to its OWN class centroid, flagged when above the class's p-th
    percentile — the embedding-space data-quality sweep (a vector far
    from its label's prototype is a labeling or dedup candidate).

    Distances use the ROUNDED centroid table (both engines then share
    bit-identical inputs) and stay squared (monotone — no sqrt, one
    fewer FP divergence surface). Scale shape: one |labels|×dim
    centroid aggregate (vectors never shuffle — see
    :func:`label_centroids`), joined back along the posexploded
    stream; the per-label threshold is a group-cardinality percentile
    aggregate broadcast onto the scores.
    """
    cents = label_centroids(emb, label_col, vec_col)
    x = (
        emb.select(
            F.col(id_col),
            F.col(label_col).alias("label"),
            F.posexplode(
                F.transform(F.col(vec_col), lambda v: v.cast("double"))
            ).alias("pos", "__v"),
        )
        .select(id_col, "label", (F.col("pos") + 1).cast("int").alias("pos"), "__v")
    )
    d = (
        x.join(cents, ["label", "pos"])
        .groupBy(id_col, "label")
        .agg(
            F.round(
                F.sum((F.col("__v") - F.col("c")) * (F.col("__v") - F.col("c"))),
                6,
            ).alias("d2")
        )
    )
    thr = d.groupBy("label").agg(
        F.percentile(F.col("d2"), F.lit(float(p))).alias("__thr")
    )
    # verdict compares against the SAME rounded threshold that is
    # emitted, so a consumer recomputing d2 > thr from the output
    # columns can never disagree at the rounding boundary
    return d.join(F.broadcast(thr), "label").select(
        id_col,
        "label",
        "d2",
        F.round(F.col("__thr"), 6).alias("thr"),
        (F.col("d2") > F.round(F.col("__thr"), 6)).cast("int").alias("is_outlier"),
    )


def knn_join_exact(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    left_id: str = "query_id",
    right_id: str = "neighbor_id",
    left_vec: str = "__qv_raw",
    right_vec: str = "__nv_raw",
) -> DataFrame:
    """Exact k-NN JOIN: for every row of ``left`` (a query TABLE, not
    a fixed id list — the RAG-retrieval / corpus-linkage shape), the
    top-k cosine neighbors from ``right``. Returns (``left_id``,
    ``right_id``, sim, rank); self-pairs (equal ids) are excluded.

    Scale shape: ``right`` streams once through a join against
    ``left`` — with a small query table AQE broadcasts it and the scan
    stays single-pass (the hint is deliberately NOT forced: a large
    ``left`` must fall back to a shuffle join, not OOM the
    executors). The window top-k shuffles |left|×|right| scored rows;
    this is the documented O(n·q) baseline — :func:`knn_join_lsh` is
    the path where q itself is corpus-sized.
    """
    q = left.select(
        F.col(left_id),
        F.transform(F.col(left_vec), lambda x: x.cast("double")).alias("__qv"),
    ).select(left_id, "__qv", _norm(F.col("__qv")).alias("__qn"))
    # spread the corpus side + hoist per-row norms (same expressions,
    # one evaluation per row instead of per pair — byte-identical)
    c = _scale_out(
        right.select(
            F.col(right_id),
            F.transform(F.col(right_vec), lambda x: x.cast("double"))
            .alias("__nv"),
        )
    ).select(right_id, "__nv", _norm(F.col("__nv")).alias("__nn"))
    pairs = c.join(q, F.col(left_id) != F.col(right_id))
    sim = _dot(F.col("__qv"), F.col("__nv")) / (
        F.col("__qn") * F.col("__nn")
    )
    scored = pairs.select(left_id, right_id, F.round(sim, 6).alias("sim"))
    w = Window.partitionBy(left_id).orderBy(
        F.col("sim").desc(), F.col(right_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def knn_join_lsh(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    dim: int = 64,
    bits: int = 8,
    bands: int = 4,
    left_id: str = "query_id",
    right_id: str = "neighbor_id",
    left_vec: str = "__qv_raw",
    right_vec: str = "__nv_raw",
) -> DataFrame:
    """Approximate k-NN JOIN at corpus×corpus scale: sign-LSH band
    codes on BOTH sides, candidates meet on shared buckets, exact
    cosine re-rank, window top-k per left row. A bucket miss can
    yield <k rows for a query — that is the approximation (recall
    tunable by bands × bits, same hyperplane family as
    :func:`lsh_cosine_topk` so the oracle can replay the codes).

    Scale shape — why this survives where the exact join cannot:

    - the band explosion carries only (id, bucket) — vectors do NOT
      replicate ×bands through the shuffle;
    - the bucket join's fan-out tracks true near-neighbor density,
      not |left|×|right|;
    - candidate (left, right) id pairs are de-duplicated ACROSS bands
      before the two vector re-joins, so each survivor pair scores
      exactly once and the wide embeddings cross the network once per
      side (the dedup_embedding_cosine_lsh pattern, dedup.py).

    No broadcast is forced anywhere: both sides may be 100 TB; every
    join is a hash join on bucket / id keys that AQE may downgrade to
    broadcast when a side measures small.
    """
    def codes(df, id_col, vec_col):
        return df.select(
            F.col(id_col),
            F.explode(
                lsh_codes(vec_col, dim, bits, bands)
            ).alias("bucket"),
        )

    cand = (
        codes(left, left_id, left_vec)
        .join(codes(right, right_id, right_vec), "bucket")
        .where(F.col(left_id) != F.col(right_id))
        .select(left_id, right_id)
        .distinct()
    )
    q = left.select(
        F.col(left_id),
        F.transform(F.col(left_vec), lambda x: x.cast("double")).alias("__qv"),
    ).select(left_id, "__qv", _norm(F.col("__qv")).alias("__qn"))
    c = right.select(
        F.col(right_id),
        F.transform(F.col(right_vec), lambda x: x.cast("double")).alias("__nv"),
    ).select(right_id, "__nv", _norm(F.col("__nv")).alias("__nn"))
    # per-row hoisted norms: same expressions as the old per-pair
    # evaluation, computed once per side row — byte-identical
    sim = _dot(F.col("__qv"), F.col("__nv")) / (
        F.col("__qn") * F.col("__nn")
    )
    scored = (
        cand.join(q, left_id)
        .join(c, right_id)
        .select(left_id, right_id, F.round(sim, 6).alias("sim"))
    )
    w = Window.partitionBy(left_id).orderBy(
        F.col("sim").desc(), F.col(right_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def rerank_topk(
    candidates: DataFrame,
    scorer=None,
    k: int = 5,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Cross-encoder-style re-rank hook: rescore (query, neighbor)
    candidate pairs with a user-supplied batch scorer, then take the
    top-k per query by the new score.

    ``scorer(pdf) -> pd.Series`` receives each Arrow batch as a pandas
    DataFrame with the candidate columns and returns one float score
    per row — the boundary where a real cross-encoder model would run
    (model weights broadcast once per executor, batched inference per
    Arrow batch, never per row). No model ships in this environment,
    so the default scorer is a deterministic md5-derived pseudo-score
    blended with the retrieval ``sim`` — exercising the exact same
    plumbing (schema, batching, per-executor state) a real model uses.

    Scale shape: candidates are already ≪ corpus (k′ per query from
    the ANN stage); the re-rank is a linear mapInPandas pass over
    them plus one window top-k partitioned by query.
    """
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField

    if scorer is None:
        scorer = deterministic_pair_scorer(query_col, neighbor_col)

    out_schema = [*candidates.schema.fields, StructField("rerank_score", DoubleType())]
    from pyspark.sql.types import StructType

    schema = StructType(out_schema)

    def rescore(batches):
        for pdf in batches:
            scored = pdf.copy()
            scored["rerank_score"] = pd.Series(scorer(pdf), index=pdf.index).astype(
                float
            )
            yield scored

    rescored = candidates.mapInPandas(rescore, schema=schema)
    w = Window.partitionBy(query_col).orderBy(
        F.col("rerank_score").desc(), F.col(neighbor_col).asc()
    )
    return (
        rescored.withColumn("rerank", F.row_number().over(w))
        .where(F.col("rerank") <= k)
    )


def deterministic_pair_scorer(query_col: str, neighbor_col: str):
    """Stand-in for a cross-encoder model: md5-derived pseudo-score in
    [0, 1) blended 50/50 with the retrieval ``sim`` when present.
    Deterministic per (query, neighbor), so the oracle can replay it."""
    import hashlib
    import math

    def score(pdf):
        # column-wise, not pdf.apply(axis=1): row-apply upcasts mixed
        # int/float rows to float64 and ids would format as "365.0"
        keys = (
            "xenc:"
            + pdf[query_col].astype(str)
            + ":"
            + pdf[neighbor_col].astype(str)
        )
        h = keys.map(
            lambda k: int(hashlib.md5(k.encode()).hexdigest()[:8], 16)
            / float(1 << 32)
        )
        base = pdf["sim"].astype(float) if "sim" in pdf.columns else 0.0
        # half-up rounding to match SQL ROUND (Python's round() is
        # banker's and would diverge at exact .5 boundaries)
        return ((h + base) / 2.0).map(lambda x: math.floor(x * 1e6 + 0.5) / 1e6)

    return score


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random hyperplane components derived from
    md5 — reproducible across runs and engines, no RNG state."""
    import hashlib

    comps = []
    for d in range(dim):
        h = hashlib.md5(f"plane:{plane_idx}:{d}".encode()).hexdigest()
        # map 8 hex chars to [-1, 1)
        comps.append(int(h[:8], 16) / float(1 << 31) - 1.0)
    return comps


def _quote_ident(name: str) -> str:
    """A column name as a backticked SQL identifier, inner backticks
    doubled — a user-supplied name never becomes SQL text as it is."""
    return "`" + name.replace("`", "``") + "`"


def _lsh_band_sql(vec_col: str, dim: int, bits: int, band: int) -> str:
    """The SQL text of one band's sign-LSH code over the column named
    ``vec_col`` (quoted by :func:`_quote_ident`): per bit, the same
    ``aggregate(zip_with(vec, plane))`` fold the Column form built —
    identical expressions after parsing, so codes are byte-identical —
    but rendered as TEXT so the whole band parses in ONE py4j call
    (the Column form paid ~10 py4j round trips per fold; at
    bits × bands = 36 folds per call site that made driver-side plan
    BUILDING the dominant cost of the LSH queries: measured ~1.9 s of
    ann_lsh_recall's 3.2 s before any job ran)."""
    vec_sql = _quote_ident(vec_col)
    bit_sqls = []
    for b in range(bits):
        plane = ", ".join(
            _sql_double(w) for w in _hyperplane(dim, band * bits + b)
        )
        bit_sqls.append(
            "(CASE WHEN aggregate(zip_with({v}, array({p}), "
            "(x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0D AS DOUBLE), "
            "(acc, v) -> acc + v) >= 0 THEN '1' ELSE '0' END)".format(
                v=vec_sql, p=plane
            )
        )
    return "concat('{band}:', {bits})".format(
        band=band, bits=", ".join(bit_sqls)
    )


def lsh_codes(vec_col: str, dim: int, bits: int, bands: int):
    """ALL band codes as one parsed ``array<string>`` expression —
    one py4j round trip for the whole bits × bands construction (see
    :func:`_lsh_band_sql`). ``vec_col`` is the vector column's name,
    any characters allowed."""
    return F.expr(
        "array({})".format(
            ", ".join(
                _lsh_band_sql(vec_col, dim, bits, band)
                for band in range(bands)
            )
        )
    )


def lsh_code(vec_col, dim: int, bits: int, band: int):
    """Sign-LSH code: one bit per hyperplane, concatenated to a
    string bucket key.

    Each hyperplane dot product is ``aggregate(zip_with(vec, plane))``
    against a literal plane array — a tight JVM loop — rather than a
    ``dim``-term chained-addition expression, whose tree the optimizer
    and codegen would otherwise have to walk per bit (bits × dim terms
    made plan compilation the dominant cost at small scale). A string
    ``vec_col`` names a column and takes the one-parse SQL path
    (:func:`_lsh_band_sql`, which quotes the name);
    a Column keeps the element-wise construction for expressions that
    have no SQL name."""
    if isinstance(vec_col, str):
        return F.expr(_lsh_band_sql(vec_col, dim, bits, band))
    bit_cols = []
    for b in range(bits):
        plane = _hyperplane(dim, band * bits + b)
        # ONE parsed expression for the literal plane: element-wise
        # F.lit costs dim py4j round trips per plane (bits × bands
        # planes made driver-side plan BUILDING the dominant cost);
        # the D-suffix shortest-repr literals parse to the identical
        # doubles
        plane_arr = F.expr(
            "array({})".format(", ".join(_sql_double(w) for w in plane))
        )
        dot = F.aggregate(
            F.zip_with(vec_col, plane_arr, lambda x, w: x.cast("double") * w),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        bit_cols.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(F.lit(f"{band}:"), *bit_cols)


def lsh_cosine_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    dim: int = 64,
    bits: int = 8,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: sign-LSH banding for candidates, exact cosine
    re-rank within buckets. Same output shape as :func:`cosine_topk`
    (a candidate set miss can yield <k rows per query — that is the
    approximation).

    Scale shape: the band explosion and the cross-band candidate
    dedup carry only (query_id, neighbor_id, bucket) — the wide
    embeddings never ride the candidate exchange; vectors rehydrate
    AFTER the distinct (the :func:`knn_join_lsh` pattern) with
    per-row hoisted norms — the identical expressions evaluated once
    per side row instead of once per pair, byte-identical sims."""
    codes = emb.select(
        F.col(id_col),
        F.explode(lsh_codes(vec_col, dim, bits, bands)).alias("bucket"),
    )
    qcodes = codes.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), "bucket"
    )
    cand = (
        codes.join(F.broadcast(qcodes), "bucket")
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col).alias("neighbor_id"))
        .distinct()
    )
    q = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__qv"),
    ).select("query_id", "__qv", _norm(F.col("__qv")).alias("__qn"))
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__nv"),
    ).select("neighbor_id", "__nv", _norm(F.col("__nv")).alias("__nn"))
    sim = _dot(F.col("__qv"), F.col("__nv")) / (
        F.col("__qn") * F.col("__nn")
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", F.round(sim, 6).alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    bits: int = 8,
) -> DataFrame:
    """Per-dimension scalar quantization of an embedding column — the
    memory-side ANN primitive (int8 codes are 4x smaller than float32;
    IVF/brute-force scans over codes keep 100 TB-scale indexes in
    executor memory): each dimension scales to ``[0, 2^bits - 1]``
    against its GLOBAL min/max, learned in the same plan.

    Output per vector: (id, n_dims, code_sum, code_min, code_max,
    err2_pico) — the quantization evidence. ``err2_pico`` is the
    squared reconstruction error with every per-dimension term rounded
    to an integer picounit BEFORE summing, so the total is exact
    integer arithmetic — order-independent and bit-reproducible on any
    engine (the dsir_weights micro-nat contract, applied to L2 error).
    A constant dimension (span 0) codes to 0 and reconstructs exactly.

    Scale shape: one posexplode to (vec, dim, value) rows — narrow,
    dim-bounded blow-up; dimension stats are a dim-row aggregate
    broadcast back; codes and error terms re-aggregate per vector.
    Declarative end to end: no driver collect, no Python."""
    levels = (1 << bits) - 1
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("__pos", "__raw"),
    ).select(
        id_col, "__pos", F.col("__raw").cast("double").alias("__v")
    )
    stats = ex.groupBy("__pos").agg(
        F.min("__v").alias("__mn"), F.max("__v").alias("__mx")
    )
    joined = ex.join(F.broadcast(stats), "__pos")
    span = F.col("__mx") - F.col("__mn")
    code = F.when(span == 0, F.lit(0)).otherwise(
        F.least(
            F.lit(levels),
            F.greatest(
                F.lit(0),
                F.round((F.col("__v") - F.col("__mn")) / span * levels)
                .cast("int"),
            ),
        )
    )
    q = joined.select(
        F.col(id_col),
        F.col("__v"),
        code.alias("code"),
        (
            F.col("__mn")
            + code.cast("double") / levels * span
        ).alias("__recon"),
    )
    err_term = F.round(
        (F.col("__v") - F.col("__recon"))
        * (F.col("__v") - F.col("__recon"))
        * 1e12
    ).cast("long")
    return q.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_dims"),
        F.sum("code").cast("long").alias("code_sum"),
        F.min("code").alias("code_min"),
        F.max("code").alias("code_max"),
        F.sum(err_term).cast("long").alias("err2_pico"),
    )


def quantized_cosine_topk(
    emb: DataFrame,
    query_ids: list,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Exact top-k cosine over QUANTIZED vectors — the memory-bound
    ANN configuration (int8 codes are 4x smaller than float32, so a
    100 TB corpus's index fits 4x more vectors per executor): every
    vector is scalar-quantized per dimension (the
    :func:`quantize_embeddings` codes) and similarity is computed on
    the RECONSTRUCTED values, so the ranking error is exactly the
    quantization error — recall vs the float path is measured, not
    hoped (tests assert a floor).

    Same output contract as :func:`cosine_topk`: (query_id,
    neighbor_id, sim, rank), sim rounded to 6 decimals, ties broken
    by neighbor id. Dimension stats are a DIM-bounded driver read
    (the k-means-codebook precedent); quantize+reconstruct is then a
    pure projection — no shuffle beyond the final per-query window."""
    levels = (1 << bits) - 1
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col), vecd.alias("__v"))
    dim_stats = (
        base.select(F.posexplode("__v").alias("__pos", "__x"))
        .groupBy("__pos")
        .agg(F.min("__x").alias("mn"), F.max("__x").alias("mx"))
        .orderBy("__pos")
        .collect()
    )
    mns = F.array(*[F.lit(float(r["mn"])) for r in dim_stats])
    spans = F.array(*[F.lit(float(r["mx"] - r["mn"])) for r in dim_stats])

    def recon(x, i):
        mn = F.element_at(mns, i + 1)
        sp = F.element_at(spans, i + 1)
        code = F.when(sp == F.lit(0.0), F.lit(0)).otherwise(
            F.least(
                F.lit(levels),
                F.greatest(
                    F.lit(0),
                    F.round((x - mn) / sp * levels).cast("int"),
                ),
            )
        )
        return mn + code.cast("double") / levels * sp

    rec = base.select(
        F.col(id_col), F.transform("__v", recon).alias("__r")
    )
    q = rec.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("__r").alias("__qr"),
        _norm(F.col("__r")).alias("__qn"),
    )
    # hoist per-row norms (same expressions, one evaluation per row
    # instead of per pair — byte-identical; see cosine_topk on why no
    # corpus spread here)
    corpus = rec.select(
        id_col, "__r", _norm(F.col("__r")).alias("__nn")
    )
    pairs = corpus.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
    sim = _dot(F.col("__qr"), F.col("__r")) / (
        F.col("__qn") * F.col("__nn")
    )
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        F.round(sim, 6).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def _pq_segments(vec_col, dim: int, m: int):
    """m contiguous sub-vector slices of an array column (dim % m must
    be 0): [(seg_idx, slice_col), ...]."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} segments")
    seg = dim // m
    return [
        (s, F.slice(vec_col, s * seg + 1, seg)) for s in range(m)
    ]


def pq_encode(
    emb: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    train_mod: int | None = None,
    carry_cols: list[str] | None = None,
    seed_vecs: list[tuple[int, list[float]]] | None = None,
):
    """PRODUCT QUANTIZATION (Jégou et al., the memory tier below
    scalar int8): the vector splits into ``m`` contiguous segments;
    a deterministic per-segment L2 k-means (lowest-id seeds, argmin
    distance rounded to 6 decimals with cid ties, per-component means
    rounded to 6) learns ``k`` sub-centroids per segment, and every
    vector encodes as ``m`` small codes — ``m·log2(k)`` bits instead
    of ``dim·32`` (64 float32 dims → 8 nibbles: a 64x compression).
    Returns ``(codes, codebooks)`` DataFrames: ``codes`` =
    (id, seg, code); ``codebooks`` = (seg, cid, __cv sub-vector).

    Scale shape: ALL segments train in the SAME Lloyd loop — one
    (id, seg, sub-vector) explosion per iteration, assignment as a
    broadcast join against the m·k-row codebook collapsed by max_by
    partial aggregation, means as (seg, cid, pos) partial averages;
    the shuffle carries each sub-vector once per iteration and the
    codebook stays m·k rows. ``train_mod`` trains on the
    deterministic id-modulus sliver exactly like kmeans_codebook.

    ``carry_cols``: extra ``emb`` columns carried untouched onto the
    returned ``codes`` rows. This is how a caller that already has
    per-vector metadata (e.g. IVF-PQ's coarse cell id) avoids a
    whole-corpus join back onto the code table — the narrow passenger
    rides the existing explode/assign projections for free."""
    carry = list(carry_cols or [])
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(
        F.col(id_col).alias("__id"), vecd.alias("__v"), *carry
    )
    segs = base.select(
        "__id",
        F.explode(
            F.array(*[
                F.struct(F.lit(s).alias("seg"), sl.alias("__sv"))
                for s, sl in _pq_segments(F.col("__v"), dim, m)
            ])
        ).alias("__s"),
        *carry,
    ).select(
        "__id",
        F.col("__s.seg").alias("seg"),
        F.col("__s.__sv").alias("__sv"),
        *carry,
    )
    train = segs if train_mod is None else segs.where(
        F.col("__id") % train_mod == 0
    )
    if iters > 0:
        # materialize + spread the training segments once for the
        # Lloyd loop (see kmeans_codebook); when training on the full
        # corpus the final encode reuses the same materialization
        train = _scale_out(train).localCheckpoint(eager=False)
        if train_mod is None:
            segs = train
    # seeds = the k GENUINELY lowest ids (orderBy + limit, not an
    # `__id < k` guess that degrades on sparse or offset id spaces),
    # numbered 0..k-1 by id order so codes are dense regardless of
    # the id domain; on dense 0-based ids this is byte-identical to
    # the old behavior. Seed sub-vectors are sliced driver-side from
    # the k collected seed vectors (k full vectors — bounded), the
    # same values F.slice produced. `seed_vecs` is the collect-fusion
    # seam: a caller already holding the k lowest-id (id, vector)
    # rows of THIS frame passes them in and the dedicated TakeOrdered
    # job (a full pass over every partition) is skipped.
    if seed_vecs is not None:
        seed_pairs = sorted(
            ((int(i), [float(x) for x in v]) for i, v in seed_vecs),
        )[:k]
        seed_full = [v for _i, v in seed_pairs]
    else:
        seed_full = [
            [float(x) for x in r["__v"]]
            for r in base.select("__id", "__v")
            .orderBy("__id").limit(k).collect()
        ]
    if not seed_full:
        raise ValueError("pq_encode: no vectors to seed from")
    seg_len = dim // m
    # cur[seg] = sorted list of (cid, sub-centroid); the m·k codebook
    # lives on the DRIVER between Lloyd iterations (m·k·(dim/m) =
    # k·dim doubles — bounded), exactly like kmeans_codebook
    cur: list[list[tuple[int, list[float]]]] = [
        [
            (ci, v[s * seg_len : (s + 1) * seg_len])
            for ci, v in enumerate(seed_full)
        ]
        for s in range(m)
    ]
    spark = base.sparkSession

    def l2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def assign(frame, rows_by_seg):
        # narrow per-row argmin against the LITERAL m·k codebook (no
        # join, no per-vector shuffle): the row's segment selects its
        # k-entry codebook via element_at, argmin distance with ties
        # by LOWEST cid = array_min over (distance, cid) structs —
        # the identical lexicographic comparison the old groupBy/min
        # aggregate used (which also SORT-aggregated every
        # sub-vector, the array being part of its grouping key). The
        # transform index IS the cid: sub-centroid ids are dense
        # 0..k-1 by the seed rule.
        cb_row = F.element_at(_pq_cb_literal(rows_by_seg), F.col("seg") + 1)
        scored = F.transform(
            cb_row,
            lambda x, i: F.struct(
                F.round(l2(F.col("__sv"), x), 6).alias("__d"),
                i.alias("cid"),
            ),
        )
        # the argmin lands under an INTERNAL alias (__pqc, not cid) so
        # a carry column named `cid` — IVF-PQ's natural passenger —
        # cannot collide with it
        return frame.select(
            "__id", "seg", "__sv",
            F.array_min(scored)["cid"].alias("__pqc"),
            *carry,
        )

    # see kmeans_codebook: the training frame's partition count is
    # computed once, never re-derived from the literal-heavy plan
    train_parts = train.rdd.getNumPartitions() if iters > 0 else 0
    for _ in range(iters):
        a = assign(train, cur).select("seg", "__pqc", "__sv")
        means = _collect_group_means(
            a, ["seg", "__pqc"], "__sv", n_parts=train_parts
        )
        # a sub-centroid whose cell empties keeps its previous value
        cur = [
            [
                (cid, means.get((s, cid), cv))
                for cid, cv in seg_rows
            ]
            for s, seg_rows in enumerate(cur)
        ]
    codes = assign(segs, cur).select(
        F.col("__id").alias(id_col), "seg", F.col("__pqc").alias("code"),
        *carry,
    )
    cent = spark.createDataFrame(
        [(s, cid, cv) for s, seg_rows in enumerate(cur) for cid, cv in seg_rows],
        "seg int, cid int, __cv array<double>",
    )
    # carry the driver-held per-seg rows so ADC consumers can build
    # literal lookup tables without re-collecting the local relation
    cent._amaxa_pq_rows = cur
    return codes, cent


def pq_topk_adc(
    emb: DataFrame,
    query_ids: list,
    dim: int,
    k_top: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    oversample: int = 1,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: vectors are
    L2-NORMALIZED first so cosine = inner product, and the inner
    product DECOMPOSES over segments — each query precomputes one
    ``m·k`` lookup table of sub-products against the codebooks, and a
    corpus vector scores as m table lookups (never touching its
    floats again). This is the RAM-resident search tier: codes are
    ~64x smaller than the vectors, so a 100 TB corpus's index fits a
    modest cluster's memory.

    ``oversample > 1`` adds the standard PQ second stage: ADC ranks
    ``k_top · oversample`` candidates per query, then EXACT cosine
    re-ranks just those — the float vectors are touched only for the
    candidate sliver, and recall climbs toward the exact path while
    the scan stays code-resident (measured floors in the tests).

    Same output contract as :func:`cosine_topk` (query_id,
    neighbor_id, sim, rank): sim is the ADC approximation of cosine
    (or the EXACT cosine when re-ranked), rounded to 6, ties by
    neighbor id."""
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = _norm(F.col("__raw"))
    base = emb.select(F.col(id_col).alias("__id"), vecd.alias("__raw")).select(
        "__id",
        F.transform(
            F.col("__raw"), lambda x: x / nrm
        ).alias("__v"),
    )
    # ONE TakeOrdered job serves the PQ seed vectors AND the bounded
    # query set (guide §2.4 fewer actions): the old shape paid a
    # dedicated full-pass seed collect inside pq_encode plus a second
    # full-pass `q.collect()` for the ADC literal. The tagged union is
    # one action whose limit subtree yields the k lowest ids and whose
    # filter subtree yields the queries — identical JVM-normalized
    # doubles either way.
    tagged = (
        base.orderBy("__id").limit(k)
        .withColumn("__src", F.lit(0))
        .unionByName(
            base.where(F.col("__id").isin(query_ids))
            .withColumn("__src", F.lit(1))
        )
    )
    collected = tagged.collect()
    seed_vecs = sorted(
        (int(r["__id"]), [float(x) for x in r["__v"]])
        for r in collected
        if r["__src"] == 0
    )
    q_rows = sorted(
        (r["__id"], [float(x) for x in r["__v"]])
        for r in collected
        if r["__src"] == 1
    )
    codes, cb = pq_encode(
        base.select(F.col("__id").alias(id_col), F.col("__v")),
        "__v", id_col, dim=dim, m=m, k=k, iters=iters,
        seed_vecs=seed_vecs,
    )
    # the ADC scan, fully narrow: the BOUNDED query set (|query_ids|
    # normalized vectors — the same collect bound the gates already
    # accept) rides along as a literal, and each (corpus code ×
    # query) sub-product is computed in place — F.slice of the query
    # segment (the identical slice qsegs produced) dotted with the
    # literal pq codebook entry (position = code+1, dense by the seed
    # rule). Replaces the old per-query table frame and BOTH of its
    # broadcast joins; only (query, neighbor) partial sums reach the
    # exchange.
    seg_len = dim // m
    q_lit = F.expr(
        "array({})".format(
            ", ".join(
                "named_struct('query_id', {qid}L, '__qv', array({qv}))".format(
                    qid=int(qid),
                    qv=", ".join(_sql_double(float(x)) for x in qv),
                )
                for qid, qv in q_rows
            )
        )
    )
    pq_lit = _pq_cb_literal(cb._amaxa_pq_rows)
    adc_t = _dot(
        F.slice(F.col("__qv"), F.col("seg") * seg_len + 1, seg_len),
        F.element_at(
            F.element_at(pq_lit, F.col("seg") + 1), F.col("code") + 1
        ),
    )
    scored = (
        codes.select(F.col(id_col), "seg", "code", F.explode(q_lit).alias("__q"))
        .select(
            F.col("__q.query_id").alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            "seg",
            "code",
            F.col("__q.__qv").alias("__qv"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum(adc_t), 6).alias("sim"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    if oversample <= 1:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k_top)
            .select("query_id", "neighbor_id", "sim", "rank")
        )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_top * oversample)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank of the candidate sliver only: vectors are unit
    # norm already, so the inner product IS the cosine. The query side
    # rehydrates from the fused collect as a LOCAL relation — only the
    # corpus side re-reads storage, once, after the top-N cut (the
    # lsh rehydrate-after-distinct pattern).
    exact = (
        cand.join(
            _local_q_frame(base, "__id", q_rows), "query_id"
        )
        .join(
            base.select(
                F.col("__id").alias("neighbor_id"),
                F.col("__v").alias("__nv"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("__qv"), F.col("__nv")), 6).alias("sim"),
        )
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_top)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def binary_code_expr(vec_col, dim: int):
    """The SIGN-BIT code of an embedding as ONE 64-bit long: bit d is
    set iff component d is strictly positive. Built as a chain of 64
    literal-bit CASE terms — pure Column arithmetic, whole-stage
    codegen, and trivially replayable in any SQL engine (bit 63's
    literal is negative two's-complement; partial sums stay in-range
    because each term is a distinct bit). Sign is scale-invariant, so
    no normalization is needed for the code itself."""
    if not 1 <= dim <= 64:
        raise ValueError(f"binary code packs into one long: dim {dim} > 64")
    # two's-complement literal for bit i (bit 63 is the sign bit)
    def bit(i: int) -> int:
        v = 1 << i
        return v - (1 << 64) if v >= (1 << 63) else v

    code = F.lit(0).cast("long")
    for i in range(dim):
        code = code + F.when(
            F.element_at(vec_col, i + 1) > 0, F.lit(bit(i)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return code


def binary_cosine_topk(
    emb: DataFrame,
    query_ids: list,
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    oversample: int = 4,
) -> DataFrame:
    """Binary-quantized ANN — the memory tier BELOW PQ: each vector
    compresses to its 64 sign bits (8 bytes: 32x smaller than
    float32, 4x smaller than int8), Hamming distance over the codes
    ranks candidates (sign concordance is a monotone proxy for the
    angle — the classic sign-random-projection bound, here with the
    IDENTITY projection since the corpus dims are already spread),
    and exact cosine re-ranks only the ``k·oversample`` sliver per
    query. At 100 TB the code tier is ~8 GB per 10⁹ vectors — RAM-
    resident on a single executor, scanned with two ALU ops per
    candidate (xor + popcount, whole-stage codegen) — while the float
    vectors are touched only for the re-rank sliver.

    Deterministic contract: candidate rank by (hamming asc, id asc),
    final (query_id, neighbor_id, sim, rank) with sim = EXACT cosine
    rounded to 6 and ties by neighbor id — same shape as
    :func:`cosine_topk`, so oracles replay it exactly."""
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = emb.select(F.col(id_col).alias("__id"), vecd.alias("__v")).select(
        "__id", "__v", binary_code_expr(F.col("__v"), dim).alias("__c")
    )
    q = base.where(F.col("__id").isin(query_ids)).select(
        F.col("__id").alias("query_id"),
        F.col("__v").alias("__qv"),
        F.col("__c").alias("__qc"),
    )
    # code scan: broadcast the bounded query side, xor+popcount per
    # corpus code — no shuffle of the corpus, no float access
    ham = (
        base.join(F.broadcast(q), F.col("__id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("__id").alias("neighbor_id"),
            F.bit_count(F.col("__c").bitwiseXOR(F.col("__qc"))).alias("__ham"),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("__ham").asc(), F.col("neighbor_id").asc()
    )
    cand = (
        ham.withColumn("__r", F.row_number().over(wc))
        .where(F.col("__r") <= k * oversample)
        .select("query_id", "neighbor_id")
    )
    exact = (
        cand.join(q.select("query_id", "__qv"), "query_id")
        .join(
            base.select(
                F.col("__id").alias("neighbor_id"), F.col("__v").alias("__nv")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("__qv"), F.col("__nv"))
                / (_norm(F.col("__qv")) * _norm(F.col("__nv"))),
                6,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


def ivfpq_cosine_topk(
    emb: DataFrame,
    query_ids: list,
    dim: int,
    k_top: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    coarse_iters: int = 2,
    m: int = 8,
    k: int = 16,
    pq_iters: int = 2,
    oversample: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_mod: int | None = None,
    coarse_codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ (the FAISS ``IVFADC`` index shape, Jégou et al. §IV):
    the billion-vector tier that composes the two indexes this module
    already has — a COARSE inverted file so each query scans only its
    ``nprobe`` nearest cells, and PRODUCT-QUANTIZED **residuals**
    (vector minus its cell centroid) so the scan inside a cell touches
    ``m`` one-byte-ish codes instead of the floats.

    Pipeline (every step the deterministic twin of its standalone
    operator, so one DuckDB CTE chain replays the whole composition):

    1. L2-normalize (cosine = inner product downstream).
    2. Coarse codebook: :func:`kmeans_codebook` on the normalized
       corpus (rounded-cosine assignment, cid ties).
    3. Residual encode: ``r = round(v - centroid(cell), 6)`` per
       component; :func:`pq_encode` learns ONE shared m-segment
       codebook over all residuals (the shared-codebook IVFADC
       variant — per-cell codebooks multiply training cost K-fold for
       marginal recall at these dims).
    4. Query: probe the ``nprobe`` cells of highest rounded cosine;
       build the per-query ``m·k`` ADC table of sub-inner-products
       against the residual codebooks; a candidate in cell c scores
       ``round(q·centroid_c + Σ_seg table[seg, code], 6)`` — the
       inner product decomposed as coarse term + residual lookups,
       never touching the candidate's floats.
    5. ``oversample > 1``: exact-cosine re-rank of the candidate
       sliver, floats touched only for ``k_top·oversample`` rows per
       query.

    At 100 TB: the corpus's search-time footprint is codes
    (``m·log2(k)`` bits/vector) + one cid each — RAM-resident on a
    modest cluster; a query reads ``nprobe/K`` of the codes and the
    float vectors only for its re-rank sliver. Training runs on the
    ``train_mod`` sliver and amortizes over the corpus scan exactly
    like the standalone IVF/PQ paths.

    Same output contract as :func:`cosine_topk`:
    (query_id, neighbor_id, sim, rank)."""
    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    raw = emb.select(F.col(id_col).alias("__id"), vecd.alias("__raw"))
    nrm = _norm(F.col("__raw"))
    base = raw.select(
        "__id", F.transform(F.col("__raw"), lambda x: x / nrm).alias("__v")
    )
    # ONE TakeOrdered job serves the coarse k-means seeds, the PQ
    # residual seeds AND the bounded query vectors (guide §2.4 fewer
    # actions / §1.2 algorithm first): the old shape paid a dedicated
    # full-pass seed collect per Lloyd training (coarse + PQ) plus an
    # in-plan corpus scan for the query side of the probe and the
    # re-rank. The tagged union is one action whose limit subtree
    # yields the max(n_centroids, k) lowest ids and whose filter
    # subtree yields the queries — all values are the identical
    # JVM-normalized doubles the per-step collects produced.
    n_seed = max(n_centroids, k)
    tagged = (
        base.orderBy("__id").limit(n_seed)
        .withColumn("__src", F.lit(0))
        .unionByName(
            base.where(F.col("__id").isin(query_ids))
            .withColumn("__src", F.lit(1))
        )
    )
    collected = tagged.collect()
    seed_rows_all = sorted(
        (int(r["__id"]), [float(x) for x in r["__v"]])
        for r in collected
        if r["__src"] == 0
    )
    q_rows = sorted(
        (r["__id"], [float(x) for x in r["__v"]])
        for r in collected
        if r["__src"] == 1
    )
    # coarse_codebook is the amortization seam (same contract as
    # ivf_cosine_topk's `codebook`): pass a previously trained
    # (cid, __cv) frame over the NORMALIZED corpus and the coarse
    # Lloyd training is skipped — per-query-batch cost drops to
    # assignment + probe. The gate prices the train-included case.
    cent = (
        coarse_codebook
        if coarse_codebook is not None
        else kmeans_codebook(
            base, n_centroids, iters=coarse_iters, id_col="__id",
            train_mod=train_mod, seed_rows=seed_rows_all,
        )
    )
    rows = _rows_of(cent)
    cb_lit = _cb_literal(rows)
    # the residual encode reads the coarse training's MATERIALIZED
    # spread checkpoint when it holds the whole corpus (train_mod
    # None): same rows, already normalized and partitioned across
    # cores — one fewer full corpus scan + normalize at scale, and
    # the residual checkpoint below needs no repartition (so its
    # creation triggers no AQE stage job)
    enc_src = getattr(cent, "_amaxa_train_ckpt", None)
    if enc_src is None:
        enc_src = base
    assign = _assign_rows_hof(enc_src, rows, "__id")  # (__id, __v, cid)
    # materialize the residuals ONCE: the PQ Lloyd loop and the final
    # encode each run several actions over this frame, and without the
    # checkpoint every one would re-execute the coarse training +
    # assignment lineage. The index-build path inherently scans the
    # residuals multiple times (train, then encode), so this is the
    # minimal materialization, amortized over every query batch. The
    # centroid to subtract comes from a literal cid→centroid map, so
    # the whole residual build is one narrow projection over the scan
    # (the old plan paid a broadcast join here).
    cid_map = F.expr(
        "map({})".format(
            ", ".join(
                "{}L, array({})".format(
                    cid, ", ".join(_sql_double(x) for x in cv)
                )
                for cid, cv in rows
            )
        )
    )
    resid = (
        _scale_out(
            assign.select(
                "__id",
                "cid",
                F.zip_with(
                    F.col("__v"), F.element_at(cid_map, F.col("cid")),
                    lambda x, y: F.round(x - y, 6),
                ).alias("__r"),
            )
        )
        # lazy: pq_encode's seed collect (TakeOrderedAndProject, a
        # full pass over every partition) is the first action over
        # this frame — it materializes the checkpoint on its own job,
        # so a dedicated eager-materialization job would be pure
        # overhead. One-shot checkpoint, not a fixpoint round, so the
        # eager-for-AQE rule of the closure loops does not apply.
        .localCheckpoint(eager=False)
    )
    # PQ seeds = the k lowest-id RESIDUAL vectors, computed on the
    # DRIVER from the fused seed collect with the byte-identical
    # driver twins (_fold_dot/_fold_norm/_round6_halfup): the
    # assignment is the same rounded-cosine argmax (ties to the
    # LOWEST cid — rows iterate ascending, strict `>` keeps the
    # first) the JVM argmax evaluates, and the residual the same
    # round(x − y, 6) per component — so pq_encode's dedicated
    # TakeOrdered seed job (a full pass over the residual frame) is
    # gone, and the residual checkpoint materializes on the first
    # Lloyd means job instead.
    cn_rows = [(cid, cv, _fold_norm(cv)) for cid, cv in rows]

    def _seed_resid(v: list[float]) -> list[float]:
        vn = _fold_norm(v)
        best_s, best_cv = None, None
        for _cid, cv, cn in cn_rows:
            s = _round6_halfup(_fold_dot(v, cv) / (vn * cn))
            if best_s is None or s > best_s:
                best_s, best_cv = s, cv
        return [_round6_halfup(x - y) for x, y in zip(v, best_cv)]

    seed_resids = [(i, _seed_resid(v)) for i, v in seed_rows_all[:k]]
    # cid rides pq_encode's explode/assign projections (carry_cols):
    # the codes come back already labeled with their coarse cell, so
    # the old whole-corpus `codes ⋈ (id→cid)` re-attachment join —
    # a full shuffle of the code table at scale — is gone outright
    # (guide §2.4; §8's "move the metadata with the row" rule).
    codes, cb = pq_encode(
        resid.select(F.col("__id").alias(id_col), F.col("__r"), "cid"),
        "__r", id_col, dim=dim, m=m, k=k, iters=pq_iters,
        train_mod=train_mod, carry_cols=["cid"], seed_vecs=seed_resids,
    )
    pq_lit = _pq_cb_literal(cb._amaxa_pq_rows)
    seg_len = dim // m
    # the bounded query set rehydrates from the fused collect as a
    # LOCAL relation — the probe and the exact re-rank no longer
    # re-derive the corpus scan + normalize lineage for 3 rows (the
    # values are the identical collected doubles)
    q = _local_q_frame(base, "__id", q_rows)
    # probe the nprobe best cells as ONE narrow expression (see
    # _probe_cells_expr), carrying the coarse inner-product term in
    # the sorted struct — replaces the old BNLJ + per-query window
    qn = _norm(F.col("__qv"))
    probe_scored = F.transform(
        cb_lit,
        lambda s: F.struct(
            (-F.round(_dot(F.col("__qv"), s["__cv"]) / (qn * s["__cn"]), 6))
            .alias("__k"),
            s["cid"].alias("cid"),
            _dot(F.col("__qv"), s["__cv"]).alias("__qc"),
        ),
    )
    probe = (
        q.select(
            "query_id",
            "__qv",
            F.explode(
                F.slice(F.array_sort(probe_scored), 1, nprobe)
            ).alias("__p"),
        )
        .select(
            "query_id",
            "__qv",
            F.col("__p.cid").alias("cid"),
            F.col("__p.__qc").alias("__qc"),
        )
    )
    # candidates = codes of vectors living in the probed cells; score
    # = coarse term + m residual lookups (grouped sum), rounded once.
    # The per-(query, seg, code) ADC sub-product is computed IN PLACE
    # from the query vector carried on the probe row (F.slice of the
    # segment — the identical slice qsegs produced) against the
    # literal pq codebook (position = code+1, dense by the seed
    # rule) — no per-query table frame, no broadcast join; only the
    # (query, neighbor) partial sums reach the exchange.
    cand_codes = codes  # (id, seg, code, cid) — cell id carried through
    qs_seg = F.slice(
        F.col("__qv"), F.col("seg") * seg_len + 1, seg_len
    )
    adc_t = _dot(
        qs_seg,
        F.element_at(
            F.element_at(pq_lit, F.col("seg") + 1), F.col("code") + 1
        ),
    )
    scored = (
        probe.join(cand_codes, "cid")
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            "__qc",
            adc_t.alias("__t"),
        )
        .groupBy("query_id", "neighbor_id", "__qc")
        .agg(F.round(F.col("__qc") + F.sum("__t"), 6).alias("sim"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    if oversample <= 1:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k_top)
            .select("query_id", "neighbor_id", "sim", "rank")
        )
    cand = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_top * oversample)
        .select("query_id", "neighbor_id")
    )
    exact = (
        cand.join(q.select("query_id", "__qv"), "query_id")
        .join(
            base.select(
                F.col("__id").alias("neighbor_id"), F.col("__v").alias("__nv")
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(_dot(F.col("__qv"), F.col("__nv")), 6).alias("sim"),
        )
    )
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k_top)
        .select("query_id", "neighbor_id", "sim", "rank")
    )
