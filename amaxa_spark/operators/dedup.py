"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference surface (the reference has only ID-set dedup, SURVEY
§2.4 A1): exact hash dedup, word-shingle n-gram Jaccard near-dup,
MinHash + LSH banding, and SimHash — all expressed as DataFrame
compositions with deterministic hashing, reproducible across runs.
Cross-ENGINE reproducibility (md5-based hashing an oracle can replay)
holds for ``minhash_signatures`` and every verified path; the bare
MinHash-LSH candidate set (``verify_threshold=None``) uses
engine-native xxhash64 for speed and is reproducible across runs of
this engine only.

Scale notes:
- exact dedup is a single hash-aggregate on the normalized key —
  map-side partial aggregation applies, no row explosion;
- n-gram Jaccard materializes (shingle, doc) pairs and self-joins on
  the shingle — the classic inverted-index join. Frequency capping
  (``max_doc_freq``) drops ubiquitous shingles before the join, which
  is what keeps the pair blow-up bounded at 100 TB;
- MinHash/LSH replaces the quadratic verify with banded buckets: only
  documents sharing a band signature meet in the join, so the
  complexity tracks the number of true near-dup clusters, not n².
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(col):
    """Canonical text form shared by all dedup ops: lowercase, trim,
    collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate grouping: one representative (min id) per
    normalized text, with the duplicate count.

    Returns columns: ``<id_col>`` (representative), ``n_dups``.
    """
    key = normalize_text(F.col(text_col)).alias("__key")
    return (
        df.select(key, F.col(id_col))
        .groupBy("__key")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .select(id_col, "n_dups")
    )


def word_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, spread: bool = True
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    The slim (id, text) projection spreads across idle cores before
    the normalize/split/slice-gram explode (adaptive `_scale_out`
    no-op at scale): a single-partition corpus scan otherwise runs
    the whole tokenize single-core for every consumer of the pairs
    pipeline (alternating A/B at sf0.1: median 4.2s → 2.1s over the
    jaccard pairs query).

    ``spread=False`` lets a caller that KNOWS the frame is small at
    every scale (benchmark sets in contamination detection — the
    operator's contract says bench ≪ corpus) skip the round-robin
    exchange: for such a side the shuffle costs more than the
    single-partition tokenize it parallelizes."""
    from amaxa_spark.operators.similarity import _scale_out

    words = F.split(normalize_text(F.col(text_col)), " ")
    # guard: sequence(1, 0) would generate a DESCENDING sequence
    grams = F.expr(
        f"CASE WHEN size(__w) >= {n} THEN "
        f"transform(sequence(1, size(__w) - {n - 1}), "
        f"i -> concat_ws(' ', slice(__w, i, {n}))) "
        f"ELSE array() END"
    )
    slim = df.select(F.col(id_col), F.col(text_col))
    if spread:
        slim = _scale_out(slim)
    return (
        slim.select(F.col(id_col), words.alias("__w"))
        .select(id_col, F.explode(grams).alias("shingle"))
        .distinct()
    )


def _pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_doc_freq: int | None,
    stop_shingles: DataFrame | None,
):
    """Shared skeleton of the shingle near-dup pair ops: per-pair
    intersection counts plus per-doc shingle-set sizes.

    Returns ``(inter, sizes)``: ``inter`` = (id_a, id_b, __inter) with
    id_a < id_b; ``sizes`` = (id, __size) BEFORE capping.

    Round-11 note: two "narrow" redesigns were tried and both measured
    SLOWER at sf0.1 than this shuffle shape, so it stays: (a) per-doc
    ``array_distinct`` + ``F.size`` instead of the global distinct +
    count aggregate (interpreted HOF array_distinct over ~300-gram
    arrays is quadratic per row and runs on the scan's few partitions
    — 10-100x worse than the codegen'd shuffle dedup); (b) pairing by
    groupBy(shingle) + posting-list-combination explode instead of the
    inverted-index self-join (interpreted flatten/transform/struct
    HOFs lose ~6x to the whole-stage-codegen'd hash join on equal
    pair volume)."""
    sh = word_shingles(df, text_col, id_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__size"))
    sh = _capped(sh, max_doc_freq, stop_shingles)
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return inter, sizes


def hot_shingles(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    max_doc_freq: int = 256,
) -> DataFrame:
    """The over-cap STOP-shingle set: one ``(shingle)`` row per word
    n-gram occurring in more than ``max_doc_freq`` documents. This is
    the expensive half of stop-shingle capping (a full aggregation
    over the exploded shingle table); a pipeline running several
    capped consumers (:func:`ngram_jaccard_pairs`,
    :func:`containment_pairs`, clusters → representatives → kept)
    should compute it ONCE — ``localCheckpoint(eager=True)`` the
    result — and pass it to each via ``stop_shingles=``, paying one
    aggregation instead of one per consumer. The set is tiny by
    construction (only shingles hotter than the cap), so the
    consumers' anti-joins broadcast it."""
    return _over_cap(word_shingles(df, text_col, id_col, n), max_doc_freq)


def _over_cap(sh: DataFrame, max_doc_freq: int) -> DataFrame:
    """The over-cap shingle set of an exploded shingle frame — the
    single definition of "hot" shared by the amortized
    (:func:`hot_shingles`) and self-computed (:func:`_capped`) paths,
    so the two can never diverge."""
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > max_doc_freq)
        .select("shingle")
    )


def _capped(sh: DataFrame, max_doc_freq, stop_shingles) -> DataFrame:
    """Apply the stop-shingle cap to an exploded shingle frame: drop
    rows whose shingle is in the hot set — supplied precomputed
    (``stop_shingles``, the amortized path) or derived here from
    ``max_doc_freq``. The anti-join keeps the SMALL side on the right
    (hot shingles only), so AQE broadcasts it instead of shuffling
    the full shingle table a second time the way a keep-side
    semi-join against the whole frequency table would."""
    if stop_shingles is not None:
        return sh.join(
            stop_shingles.select("shingle"), "shingle", "left_anti"
        )
    if max_doc_freq is not None:
        return sh.join(_over_cap(sh, max_doc_freq), "shingle", "left_anti")
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    stop_shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via inverted-index
    self-join. Returns (id_a, id_b, jaccard) with id_a < id_b and
    jaccard rounded to 6 decimals.

    ``max_doc_freq`` drops shingles occurring in more than that many
    documents before pairing (stop-shingle capping — the standard
    guard against quadratic blow-up on very common shingles).
    ``stop_shingles`` passes the hot set precomputed
    (:func:`hot_shingles`) so a multi-consumer pipeline pays the
    shingle-frequency aggregation once, not per consumer; when given
    it takes precedence over ``max_doc_freq``.
    """
    inter, sizes = _pair_intersections(
        df, text_col, id_col, n, max_doc_freq, stop_shingles
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__size").alias("__sa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__size").alias("__sb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("__inter")
                / (F.col("__sa") + F.col("__sb") - F.col("__inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    stop_shingles: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-duplicate CONTAINMENT pairs: |A∩B| / |A| over
    word-shingle sets, for every ordered (contained, container) pair.
    Catches subset duplicates symmetric Jaccard structurally misses —
    a 100-shingle doc quoted whole inside a 10,000-shingle doc has
    Jaccard ≈ 0.01 but containment 1.0 (the Broder 1997 "resemblance
    vs containment" distinction; the dedup primitive behind
    quote/boilerplate-expansion detection in corpus curation).

    Returns (id_in, id_out, containment), containment rounded to 6
    decimals: ``id_in``'s shingles are ≥``threshold`` inside
    ``id_out``'s. Both directions of each co-occurring pair are
    evaluated; a mutual near-identical pair yields two rows.

    Scale shape: identical to :func:`ngram_jaccard_pairs` — ONE
    inverted-index self-join computes each unordered pair's
    intersection once; the two directed rows are a post-join explode,
    not a second join. ``max_doc_freq`` is the same stop-shingle cap
    (denominator sizes are computed BEFORE capping, so a containment
    score never inflates from a shrunken |A|); ``stop_shingles``
    passes it precomputed (:func:`hot_shingles`, amortized across
    consumers) and takes precedence.
    """
    inter, sizes = _pair_intersections(
        df, text_col, id_col, n, max_doc_freq, stop_shingles
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__size").alias("__sa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__size").alias("__sb"))
    directed = F.array(
        F.struct(
            F.col("id_a").alias("id_in"),
            F.col("id_b").alias("id_out"),
            F.round(F.col("__inter") / F.col("__sa"), 6).alias("containment"),
        ),
        F.struct(
            F.col("id_b").alias("id_in"),
            F.col("id_a").alias("id_out"),
            F.round(F.col("__inter") / F.col("__sb"), 6).alias("containment"),
        ),
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(F.explode(directed).alias("p"))
        .select("p.*")
        .where(F.col("containment") >= threshold)
    )


def select_representatives(
    members: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    score_col: str = "score",
) -> DataFrame:
    """Canonicalization after clustering: per near-dup cluster, flag
    the highest-``score_col`` member (id ascending as tiebreak) as
    the keeper — the dedup DECISION record (keeper + drop set with
    the evidence attached), downstream of :func:`cluster_duplicates`.

    Scale shape: one id-key join to attach scores (cluster output is
    duplicate-sized, not corpus-sized) and one row_number window per
    cluster — clusters are tiny, so partitions are shallow; no global
    sort.
    """
    # LEFT join: a member with no score row stays in the decision
    # record (an inner join would silently drop it — and could crown
    # the wrong keeper); unscored members sort last, never winning
    # against any scored member
    j = members.join(
        scores, members[id_col] == scores[id_col], "left_outer"
    ).drop(scores[id_col])
    w = Window.partitionBy(cluster_col).orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col).asc()
    )
    return j.withColumn(
        "is_rep", (F.row_number().over(w) == 1).cast("int")
    )


def benchmark_contamination(
    docs: DataFrame,
    bench: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination detection: for each document, the
    fraction of its distinct word n-gram shingles that appear anywhere
    in the benchmark corpus. Returns (id, total_shingles,
    hit_shingles, overlap, contaminated).

    Scale shape: the benchmark shingle set is one distinct projection
    (typically ≪ corpus size — AQE broadcasts it); the probe is a
    semi-join on the shingle key, so cost is linear in corpus shingle
    volume, never pairwise.
    """
    # ONE pass over the corpus shingles: the old totals/hits split ran
    # the whole tokenize+explode lineage TWICE (once per aggregation
    # branch) and re-joined the two 1-row-per-doc aggregates. A
    # left_outer against the (unique-keyed) bench shingle set with a
    # hit marker folds both counts into a single groupBy — the exact
    # shape contamination_stream already uses, so stream ≡ batch by
    # construction. Join multiplicity is 1 (bench_sh is distinct), so
    # count(*) ≡ the old totals and Σ marker ≡ the old semi-join count.
    sh = word_shingles(docs, text_col, id_col, n)
    # bench ≪ corpus by this operator's contract — the spread exchange
    # on the bench side costs more than the tokenize it parallelizes
    bench_sh = (
        word_shingles(bench, text_col, id_col, n, spread=False)
        .select("shingle")
        .distinct()
    )
    scored = sh.join(
        bench_sh.withColumn("__hit", F.lit(1)), "shingle", "left_outer"
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("total_shingles"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("hit_shingles"),
    )
    overlap = F.round(F.col("hit_shingles") / F.col("total_shingles"), 6)
    return (
        agg.withColumn("overlap", overlap)
        .withColumn("contaminated", F.col("overlap") >= threshold)
        .select(id_col, "total_shingles", "hit_shingles", "overlap", "contaminated")
    )


def weighted_linkage(
    df: DataFrame,
    id_col: str,
    block_col: str,
    fields: list[tuple[str, float, str]],
    threshold: float,
) -> DataFrame:
    """Multi-field record linkage: candidate pairs share a blocking
    key, and each pair scores ``Σ wᵢ·simᵢ`` over its fields — ``kind
    = "text"`` uses normalized Levenshtein similarity
    ``1 − lev/max(len)``, ``"exact"`` a 0/1 equality — keeping pairs
    at or above ``threshold``. The probabilistic-linkage
    (Fellegi–Sunter-shaped) upgrade of single-field
    :func:`fuzzy_pairs`: one near-identical field can't link records
    whose other fields disagree, and weights encode which fields
    carry identity.

    ``block_col`` may be a scalar column (one blocking key per
    record) or an ``array`` column of keys (multi-pass blocking:
    records become a candidate pair when they share ANY key).  The
    array form is how a caller scales blocking with the data —
    deletion-neighborhood keys for an edit-distance budget, MinHash
    band keys, sorted-neighborhood prefixes — instead of a
    fixed-cardinality attribute block whose per-block pair count
    grows quadratically with the corpus.

    Scale shape: candidate generation self-joins a slim ``(id, key)``
    projection — the scored field values never ride the blocking
    shuffle — and the candidate set is deduped on ``(id_a, id_b)``
    BEFORE the two id-keyed joins rehydrate field values, so a pair
    sharing many keys is scored exactly once; scoring is a pure
    projection and the threshold filter applies before anything else
    joins. ``fields`` is a handful, so the score is one fused column
    expression.
    """
    from amaxa_spark.operators.similarity import _scale_out

    is_array = dict(df.dtypes).get(block_col, "").startswith("array")
    key = (
        F.explode(F.col(block_col)) if is_array else F.col(block_col)
    ).alias("__bk")
    # the candidate self-join broadcasts one side, so per-block pair
    # generation runs on the probe side's partitions — spread a
    # single-partition scan across idle cores (adaptive no-op at
    # scale); the slim (id, key) rows make the spread cheap
    keys = _scale_out(df.select(F.col(id_col).alias("__id"), key))
    cand = (
        keys.select(F.col("__id").alias("id_a"), "__bk")
        .join(
            keys.select(
                F.col("__id").alias("id_b"), F.col("__bk").alias("__bk2")
            ),
            (F.col("__bk") == F.col("__bk2"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sides = df.select(
        F.col(id_col).alias("__id"),
        *[F.col(c).cast("string").alias(c) for c, _, _ in fields],
    )
    a = sides.select(
        F.col("__id").alias("id_a"),
        *[F.col(c).alias(f"__a_{c}") for c, _, _ in fields],
    )
    b = sides.select(
        F.col("__id").alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c, _, _ in fields],
    )
    pairs = cand.join(a, "id_a").join(b, "id_b")
    score = None
    for c, w, kind in fields:
        ca, cb = F.col(f"__a_{c}"), F.col(f"__b_{c}")
        if kind == "exact":
            sim = (ca == cb).cast("double")
        elif kind == "text":
            denom = F.greatest(F.length(ca), F.length(cb), F.lit(1))
            sim = 1.0 - F.levenshtein(ca, cb) / denom
        else:
            raise ValueError(f"unknown field kind {kind!r}")
        # a NULL field contributes 0, it does NOT veto the pair — a
        # record with a missing email can still link on its name
        term = F.lit(float(w)) * F.coalesce(sim, F.lit(0.0))
        score = term if score is None else score + term
    return (
        pairs.select(
            "id_a", "id_b", F.round(score, 6).alias("score")
        )
        .where(F.col("score") >= threshold)
    )


def tune_lsh_bands(
    threshold: float,
    num_hashes: int,
    fp_weight: float = 1.0,
    fn_weight: float = 1.0,
    steps: int = 1000,
) -> tuple[int, int]:
    """Pick (bands, rows) for MinHash-LSH banding given a Jaccard
    ``threshold``: for each factorization b·r = num_hashes, the
    candidate probability at similarity s is 1 − (1 − s^r)^b
    (the MMDS S-curve); minimize the weighted error
    ``fp_weight·∫₀ᵗ P(s) ds + fn_weight·∫ᵗ¹ (1 − P(s)) ds``
    numerically. Returns the minimizing (bands, rows) — pass
    ``bands`` straight to :func:`minhash_lsh_pairs`. Weight
    ``fn_weight`` up when a missed duplicate costs more than a
    wasted exact-verify (the usual dedup posture).

    Pure driver-side arithmetic — tune once, run at any scale.
    """
    best, best_err = None, None
    for rows in range(1, num_hashes + 1):
        if num_hashes % rows:
            continue
        bands = num_hashes // rows
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s**rows) ** bands
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        err = (fp_weight * fp + fn_weight * fn) / steps
        if best_err is None or err < best_err:
            best, best_err = (bands, rows), err
    return best


def _drop_mega_buckets(df: DataFrame, key_cols: list[str], cap: int) -> DataFrame:
    """Shared mega-bucket guard: drop candidate groups whose size
    exceeds ``cap`` BEFORE any pair self-join, bounding per-group join
    cost at cap². Used by the MinHash bands, both sign-LSH paths, and
    prefix-blocked fuzzy matching — one implementation, four callers."""
    small = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__bs"))
        .where(F.col("__bs") <= cap)
        .select(*key_cols)
    )
    return df.join(small, key_cols, "left_semi")


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, num_hashes: int = 8
) -> DataFrame:
    """MinHash signatures with deterministic md5-seeded hash family:
    ``h_i(doc) = min(md5(i || shingle))``. Returns (id, mh_0..mh_{k-1}).
    Deterministic across engines (md5 is md5 everywhere), unlike
    engine-native ``xxhash64``."""
    sh = word_shingles(df, text_col, id_col, n)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    verify_threshold: float | None = None,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding candidate pairs: documents sharing any
    band signature. ``verify_threshold`` optionally verifies candidates
    with exact n-gram Jaccard (the scale path: cheap banded candidate
    generation, exact verify only on candidates).

    ``max_bucket_size`` is the mega-bucket guard — the hard bound that
    keeps a degenerate band (boilerplate-dominated corpora, saturated
    shingle spaces — the regime the sf1 probe measured) from exploding
    into size² candidate pairs: (band, bucket) groups larger than the
    cap are dropped BEFORE the self-join, so per-bucket join cost is
    bounded by cap² regardless of data. The recall contract is
    explicit: a pair is lost only if EVERY band it collides in is a
    mega-bucket — and a bucket that big carries near-zero signal about
    any specific pair anyway (its members agree on a band of hashes
    with thousands of others). Leave ``None`` to keep exact
    candidate-generation semantics (the oracle-gated default).

    Returns (id_a, id_b) or (id_a, id_b, jaccard) when verifying.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sh = word_shingles(df, text_col, id_col, n)
    # candidate generation uses the xxhash64 family: the minhash/band
    # values are internal here (candidates are exact-verified below,
    # or exposed as bare id pairs), so the cross-engine-reproducible
    # md5 family of `minhash_signatures` isn't needed — and bigint
    # hashing with bigint mins measures ~2x faster than md5-hex
    # strings through the same aggregate
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    band_keys = F.array(
        *[
            F.xxhash64(
                *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            )
            for b in range(bands)
        ]
    )
    # (band, key): 2 bigints per doc per band are all the join carries
    buckets = sig.select(
        F.col(id_col), F.posexplode(band_keys).alias("band", "bucket")
    )
    if max_bucket_size is not None:
        buckets = _drop_mega_buckets(buckets, ["band", "bucket"], max_bucket_size)
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b_ = buckets.select(F.col(id_col).alias("id_b"), "band", "bucket")
    cand = (
        a.join(b_, ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    if verify_threshold is None:
        return cand
    # exact-verify ONLY the candidate pairs: intersect shingle sets
    # per candidate, never the full pairwise join — this is the whole
    # point of LSH (cost tracks candidates, not n²)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__size"))
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__size").alias("__sa"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__size").alias("__sb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("__inter") / (F.col("__sa") + F.col("__sb") - F.col("__inter")),
                6,
            ),
        )
        .where(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_cosine_verify(
    emb: DataFrame,
    probe: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-cosine verification of a BOUNDED probe set against the
    full corpus: ``(id_a, id_b, sim)`` for every probe ``id_a`` and
    corpus ``id_b != id_a`` with cosine ≥ threshold.

    This is the scale-safe way to keep an EXACT baseline next to the
    LSH path (:func:`embedding_cosine_dups` with ``bucket_bits>0``):
    instead of the all-pairs n² frontier, a fixed probe stratum is
    verified exactly — cost is O(|probe|·n) with the (small) probe
    side broadcast, so every corpus partition scores its rows against
    the probes locally with no shuffle. Recall of the approximate
    path is then measurable as exact-vs-LSH agreement ON the probes,
    which is how ANN indexes are validated in practice (the full
    exact answer is a dead computation at corpus scale).

    ``probe`` is any frame carrying (id_col, vec_col) — usually a
    filtered slice of ``emb`` itself. Keep it genuinely bounded: the
    broadcast hard-limits it to driver/executor memory.
    """
    from amaxa_spark.operators.similarity import _dot

    def _normed(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
        return (
            df.select(F.col(id_col), vecd.alias("__vr"))
            .withColumn("__n", F.sqrt(_dot(F.col("__vr"), F.col("__vr"))))
            .select(
                F.col(id_col).alias(out_id),
                F.transform(
                    F.col("__vr"), lambda x: x / F.col("__n")
                ).alias(out_vec),
            )
        )

    from amaxa_spark.operators.similarity import _scale_out

    p = _normed(probe, "id_a", "__va")
    # spread the corpus side: the per-pair dots otherwise run on the
    # scan's few partitions (no-op at scale)
    c = _scale_out(_normed(emb, "id_b", "__vb"))
    sim = _dot(F.col("__va"), F.col("__vb"))
    return (
        F.broadcast(p)
        .crossJoin(c)
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def embedding_cosine_dups(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_bits: int = 0,
    bands: int = 1,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, sim) with
    id_a < id_b and cosine ≥ threshold.

    ``max_bucket_size`` (LSH paths only) drops sign-LSH buckets larger
    than the cap before the pair join — the mega-bucket guard bounding
    per-bucket cost at cap² when the embedding distribution collapses
    many vectors into one orthant (same contract as
    :func:`minhash_lsh_pairs`; with ``bands>1`` a pair survives unless
    ALL its colliding buckets are mega).

    ``bucket_bits=0`` is the exact O(n²) baseline (fine for re-ranking
    candidate sets). At scale set ``bucket_bits>0``: pairs must share
    a sign-LSH bucket before the exact similarity is computed, which
    replaces the cross join with a bucket-equality join whose cost
    tracks cluster sizes. High-similarity pairs share buckets with
    probability (1 - θ/π)^bits per band; ``bands>1`` is the standard
    OR-construction — a pair is a candidate if it collides in ANY
    band, lifting recall to 1 - (1 - p^bits)^bands at the cost of a
    distinct over the candidate pairs. Candidate generation is
    separated from verification: bands are exploded to (id, code)
    rows, pair ids are deduplicated FIRST, and vectors are re-joined
    by id afterwards — so the wide embedding column is never
    replicated per band through the shuffle.
    """
    from amaxa_spark.operators.similarity import (
        _dot,
        _norm,
        _scale_out,
        lsh_code,
        lsh_codes,
    )

    vecd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # pre-normalize once per vector: the pairwise similarity is then a
    # bare dot product — cuts the n² stage's arithmetic by ~3x versus
    # recomputing both norms per pair. The norm is materialized as its
    # own column first; dividing inside a single transform over the
    # norm expression would re-evaluate the aggregate per element.
    # Spread first: normalization + LSH coding are per-row HOF work
    # that otherwise runs on the scan's few partitions (no-op at
    # scale).
    base = (
        _scale_out(emb.select(F.col(id_col), vecd.alias("__vr")))
        .withColumn("__n", F.sqrt(_dot(F.col("__vr"), F.col("__vr"))))
        .select(
            F.col(id_col),
            F.transform(F.col("__vr"), lambda x: x / F.col("__n")).alias("__v"),
        )
    )
    if bucket_bits > 0 and bands > 1:
        dim = len(emb.select(vec_col).first()[0])
        # one parsed expression for all bands' codes (see
        # similarity.lsh_codes: the Column form paid ~10 py4j round
        # trips per fold and made driver plan-building dominate)
        codes = lsh_codes("__v", dim, bucket_bits, bands)
        keyed = base.select(
            F.col(id_col), F.explode(codes).alias("__bucket")
        )
        if max_bucket_size is not None:
            keyed = _drop_mega_buckets(keyed, ["__bucket"], max_bucket_size)
        cand = (
            keyed.alias("a")
            .join(keyed.alias("b"), "__bucket")
            .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .distinct()
        )
        va = base.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"))
        vb = base.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"))
        pairs = cand.join(va, "id_a").join(vb, "id_b")
    elif bucket_bits > 0:
        dim = len(emb.select(vec_col).first()[0])
        coded = base.withColumn(
            "__bucket", lsh_code("__v", dim, bucket_bits, 0)
        )
        if max_bucket_size is not None:
            coded = _drop_mega_buckets(coded, ["__bucket"], max_bucket_size)
        a = coded.select(
            F.col(id_col).alias("id_a"), F.col("__v").alias("__va"), "__bucket"
        )
        b = coded.select(
            F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"), "__bucket"
        )
        pairs = a.join(b, "__bucket").where(F.col("id_a") < F.col("id_b"))
    else:
        a = base.select(F.col(id_col).alias("id_a"), F.col("__v").alias("__va"))
        b = base.select(F.col(id_col).alias("id_b"), F.col("__v").alias("__vb"))
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    sim = _dot(F.col("__va"), F.col("__vb"))
    # no distinct: each vector lands in exactly one bucket (single
    # band) and the cross-join path enumerates each pair once, so
    # (id_a, id_b) is already unique — a dedup here would only add a
    # full shuffle of the qualifying pairs
    return (
        pairs.select("id_a", "id_b", F.round(sim, 6).alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def cluster_duplicates(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 40,
    driver_max_pairs: int = 2_000_000,
) -> DataFrame:
    """Resolve pairwise near-dup matches into clusters: connected
    components over the pair graph, labeling every member with the
    minimum id in its component (the canonical representative — rows
    where ``id != cluster_id`` are the drop set).

    Min-label propagation WITH label pointer-doubling: each round
    every node takes ``min(own label, neighbors' labels,
    label[label])`` — the last term treats the current label as a
    pointer into the previous round's label frame (HashMin + pointer
    jumping), so label information hops 2^r nodes after r rounds and
    the loop converges in O(log diameter) rounds instead of
    O(diameter). The fixpoint is unchanged — labels decrease
    monotonically within the component and stabilize exactly at the
    component minimum (at a fixpoint every edge carries equal labels
    and the label value is a node labeling itself, which only the
    minimum can) — so results are identical to plain min-label
    propagation; only the round count differs. Terminates when no
    label changes. Each round is two joins of the narrow label frame
    (edge min + label jump) + the observed checkpoint. This runs on
    the OUTPUT of a pairwise dedup op, so its input tracks the number
    of real duplicate pairs, not the corpus; ``driver_max_pairs``
    bounds the union-find fast path below (tests pass 0 to force the
    distributed loop).
    """
    # materialize the pair list once: the size gate below and either
    # resolution path read it, and without the checkpoint each action
    # would re-run the (expensive) pairwise-dedup lineage
    from amaxa_spark.operators.graph import observed_checkpoint

    pairs_ck, _pm = observed_checkpoint(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
        F.count(F.lit(1)).alias("n"),
    )
    # BOUNDED pair graphs resolve on the DRIVER: union-find over the
    # collected edges labels every component by its minimum id — the
    # exact integer semantics of the distributed min-label loop, with
    # 2 cheap jobs instead of 3 + 2 per propagation round. The gate is
    # the same 2M bound the loop already used to decide label
    # broadcasts; above it (a 100 TB corpus with a billion-pair dup
    # graph) the distributed loop below takes over unchanged.
    if int(_pm["n"]) <= driver_max_pairs:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in pairs_ck.collect():
            s, d = row["src"], row["dst"]
            parent.setdefault(s, s)
            parent.setdefault(d, d)
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rd] = rs
        label: dict = {}
        for node in parent:
            r = find(node)
            if r not in label or node < label[r]:
                label[r] = node
        id_type = pairs_ck.schema["src"].dataType.simpleString()
        return pairs_ck.sparkSession.createDataFrame(
            [(n, label[find(n)]) for n in sorted(parent)],
            f"id {id_type}, cluster_id {id_type}",
        )
    edges = (
        pairs_ck
        .unionByName(
            pairs_ck.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .repartition(F.col("src"))
        .localCheckpoint(eager=True)
    )
    labels, _lm = observed_checkpoint(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label")),
        F.count(F.lit(1)).alias("n"),
    )
    # label/neighbor-min frames are bounded by the number of nodes
    # that appear in a duplicate pair — usually tiny relative to the
    # corpus. Broadcast them while that holds (observed free on the
    # checkpoint job); huge pair graphs fall back to shuffle joins.
    bcast = int(_lm["n"]) <= 2_000_000
    for _ in range(max_rounds):
        lab = F.broadcast(labels) if bcast else labels
        neighbor_min = (
            edges.join(lab, edges["dst"] == lab["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        if bcast:
            neighbor_min = F.broadcast(neighbor_min)
        # pointer jump: look the candidate label up in the PREVIOUS
        # round's label frame (label[label] — every label value IS a
        # node id of this component, so the lookup stays inside the
        # component and below the current label). One extra join per
        # round buys O(log diameter) total rounds — a billion-pair
        # graph with a deep chain converges in ~30 rounds instead of
        # diameter rounds.
        jump = labels.select(
            F.col("node").alias("__jn"), F.col("label").alias("__jl")
        )
        if bcast:
            jump = F.broadcast(jump)
        cand = (
            labels.join(
                neighbor_min, labels["node"] == neighbor_min["src"], "left"
            )
            .select(
                "node",
                F.col("label").alias("__prev"),
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("__l1"),
            )
        )
        new_label = F.least(
            F.col("__l1"), F.coalesce(F.col("__jl"), F.col("__l1"))
        )
        updated, _um = observed_checkpoint(
            cand.join(jump, cand["__l1"] == jump["__jn"], "left")
            .select(
                "node",
                new_label.alias("label"),
                (new_label < F.col("__prev")).alias("__moved"),
            ),
            F.count_if(F.col("__moved")).alias("moved"),
        )
        labels = updated.drop("__moved")
        if int(_um["moved"]) == 0:
            break
    return labels.select(
        F.col("node").alias("id"), F.col("label").alias("cluster_id")
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 56) -> DataFrame:
    """SimHash fingerprints: per-token md5 → ``bits``-bit integer; each
    bit position votes +1/−1 weighted by token frequency; the sign
    pattern is the fingerprint. Deterministic (md5-based, not
    engine-native hashing). Returns (id, simhash: bigint).

    56 bits keeps the md5-hex→bigint conversion inside signed-64
    range on every engine.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    tok = df.select(F.col(id_col), F.explode(words).alias("__tok"))
    counted = tok.groupBy(id_col, "__tok").agg(F.count(F.lit(1)).alias("__n"))
    # the 56-way bit explosion below is the heavy stage and runs
    # POST-shuffle, where AQE coalesces a tiny corpus to one
    # partition; when the scan is narrower than the core count,
    # re-key the counted tokens by id across all cores (an explicit
    # repartition AQE won't coalesce). Adaptive: at scale the scan
    # already splits and no exchange is added.
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        counted = counted.repartition(p, F.col(id_col))
    h = F.conv(F.substring(F.md5(F.col("__tok")), 1, 14), 16, 10).cast("long")
    counted = counted.withColumn("__h", h)
    # the bits-per-token row explosion looks expensive but is the
    # faster shape (measured 2x vs a 56-term aggregate): the exploded
    # rows flow through whole-stage codegen into map-side partial
    # aggregation, so the shuffle still carries only (doc, bit) sums
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("__b")
    votes = (
        counted.select(id_col, "__n", "__h", bit)
        .withColumn(
            "__vote",
            F.when(F.expr("shiftright(__h, __b) & 1") == 1, F.col("__n")).otherwise(
                -F.col("__n")
            ),
        )
        .groupBy(id_col, "__b")
        .agg(F.sum("__vote").alias("__v"))
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("__v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), __b)")
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_expr: str,
    max_dist: int = 1,
    max_block_size: int | None = None,
) -> DataFrame:
    """Edit-distance fuzzy matching via blocked self-join: candidates
    are generated only WITHIN a block (``block_expr``, a SQL expression
    over the text column — e.g. a prefix), then verified with exact
    Levenshtein. Output: (id_a, id_b, dist), id_a < id_b.

    Scale contract: the join cost is Σ per-block n_i², never global
    n² — the block key must be chosen so blocks stay bounded (same
    discipline as LSH banding). Pairs whose edits fall inside the
    blocking key are missed by design; recall is the blocking
    function's property, and the verify step is exact.
    ``max_block_size`` is the same mega-bucket guard as
    :func:`minhash_lsh_pairs`: blocks above the cap (one
    ultra-common prefix) are dropped before the join, bounding
    per-block cost at cap² — the safety valve when the block
    function degenerates on real data.
    """
    from amaxa_spark.operators.similarity import _scale_out

    # the block self-join broadcasts one side, so the per-block n²
    # probe (and the levenshtein verify in the same stage) runs on
    # the PROBE side's partitions — spread a single-partition scan
    # across idle cores first (adaptive no-op at scale)
    blocked = _scale_out(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(text_col).alias("__t"),
            F.expr(block_expr.format(c=text_col)).alias("_blk"),
        )
    )
    if max_block_size is not None:
        blocked = _drop_mega_buckets(blocked, ["_blk"], max_block_size)
    a = blocked.select(
        F.col("__id").alias("id_a"), F.col("__t").alias("_ta"), "_blk"
    )
    b = blocked.select(
        F.col("__id").alias("id_b"), F.col("__t").alias("_tb"), "_blk"
    )
    # length prefilter is free and prunes most in-block candidates;
    # the threshold form of levenshtein early-exits the DP (returns
    # -1 past the bound) instead of computing the full distance
    return (
        a.join(b, "_blk")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.length("_ta") - F.length("_tb")) <= max_dist)
        )
        .withColumn("dist", F.levenshtein("_ta", "_tb", max_dist))
        .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("id_a", "id_b", "dist")
    )


def strip_duplicated_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_docs: int = 2,
    min_chars: int = 10,
) -> DataFrame:
    """Inter-document LINE dedup (the FineWeb/CCNet boilerplate pass):
    a line occurring in at least ``min_docs`` DISTINCT documents is
    removed from every document — navigation chrome, cookie banners,
    and licence footers die here, before any document-level near-dup
    stage. Lines shorter than ``min_chars`` are never removed (blank
    lines and short connectors occur everywhere and carry structure,
    not boilerplate — the CCNet guard).

    Removal is symmetric (ALL occurrences go, not "keep first"), so
    the result is deterministic and independent of any document
    ordering — the property a distributed engine can actually
    guarantee. Output: (id, n_lines, n_removed, text_clean) with the
    surviving lines rejoined in their original order.

    Scale shape: one posexplode, one line-keyed distinct-doc count
    (map-side combined; output is distinct-line-sized), one line-keyed
    anti-join back, and one per-doc ordered reassembly — every shuffle
    is line- or doc-keyed, no pairwise anything. The line text rides
    the frequency shuffle once; at 100 TB key it by ``xxhash64(line)``
    instead (2⁻⁶⁴ false-merge risk) to shuffle 8-byte keys.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias("pos", "line"),
    )
    shared = (
        lines.where(F.length("line") >= min_chars)
        .groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("line")
    )
    removable = lines.where(F.length("line") >= min_chars)
    keep_long = removable.join(shared, "line", "left_anti")
    kept = keep_long.unionByName(lines.where(F.length("line") < min_chars))
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
    )
    totals = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n", -1)).alias("n_lines"),
    )
    return (
        totals.join(rebuilt, id_col, "left_outer")
        .select(
            id_col,
            "n_lines",
            (F.col("n_lines") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("int")
            .alias("n_removed"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )


def repeated_ngram_spans(
    df: DataFrame, text_col: str, id_col: str, n: int = 5
) -> DataFrame:
    """Cross-document repeated-substring detection — the distributed
    primitive behind suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"),
    approximated at word n-gram granularity: a span (one of a doc's
    ``n``-gram start positions) is DUPLICATED when the same n-gram
    occurs in at least one other document. Per document this returns
    how much of it is boilerplate shared with the rest of the corpus.

    Output: (id, n_spans, dup_spans, dup_frac) — ``dup_frac`` rounded
    to 6 decimals; documents shorter than ``n`` words have 0 spans and
    dup_frac 0.0.

    Scale shape: spans are counted WITH multiplicity per doc (cheap
    per-doc arithmetic), but the cross-doc check joins each doc's
    DISTINCT shingles (explode+distinct, the materialization point the
    MinHash pipeline shares) against the shared-shingle set — shingles
    with ≥2 distinct docs, a self-derived hash-aggregate. Both sides
    shuffle on the shingle hash once; no quadratic pair blow-up, and
    the hot-shingle cap story from :func:`ngram_jaccard_pairs` applies
    unchanged if the corpus has mega-frequent boilerplate.
    """
    from amaxa_spark.operators.similarity import _scale_out

    words = F.split(normalize_text(F.col(text_col)), " ")
    # adaptive spread: tokenize runs in both the distinct and the
    # semi-join branches, on the scan's few partitions otherwise
    base = _scale_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), words.alias("__w")
    )
    grams = F.expr(
        f"CASE WHEN size(__w) >= {n} THEN "
        f"transform(sequence(1, size(__w) - {n - 1}), "
        f"i -> concat_ws(' ', slice(__w, i, {n}))) "
        f"ELSE array() END"
    )
    spans = base.select(id_col, F.explode(grams).alias("shingle"))
    distinct_spans = spans.distinct()
    shared = (
        distinct_spans.groupBy("shingle")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") >= 2)
        .select("shingle")
    )
    dup = (
        spans.join(shared, "shingle", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("dup_spans"))
    )
    totals = base.select(
        id_col,
        F.greatest(F.size("__w") - (n - 1), F.lit(0)).alias("n_spans"),
    )
    return (
        totals.join(dup, id_col, "left")
        .select(
            id_col,
            "n_spans",
            F.coalesce("dup_spans", F.lit(0)).alias("dup_spans"),
            F.round(
                F.when(
                    F.col("n_spans") > 0,
                    F.coalesce("dup_spans", F.lit(0)) / F.col("n_spans"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_frac"),
        )
    )


def strip_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 5,
    preserve_raw: bool = False,
) -> DataFrame:
    """The REMOVAL half of cross-document substring dedup (Lee et al.
    2022) at word n-gram granularity: every word position covered by
    an n-gram that also occurs in at least one OTHER document is
    dropped from the text; surviving words rejoin in order.
    :func:`repeated_ngram_spans` measures the boilerplate — this
    removes it. Output: (id, n_words, n_removed, text_clean).

    Overlapping duplicated spans union naturally (coverage is a
    distinct position set), so a long shared passage disappears once,
    not per-shingle. Removal is symmetric across documents — ALL
    occurrences go — which keeps the result deterministic under any
    execution order; keep-one-copy policies need an ordering oracle a
    distributed engine should not invent silently.

    Scale shape: one shingle explode keyed by (id, start), the shared-
    shingle set from a distinct + hash-aggregate, coverage as a
    sequence-explode + distinct on (id, position), one anti-join
    against the word stream, and a per-doc ordered reassembly — every
    shuffle is shingle- or doc-keyed, no pairwise blow-up; the
    mega-frequency cap story from :func:`ngram_jaccard_pairs` applies
    if boilerplate shingles dominate.

    ``preserve_raw=True`` reassembles ``text_clean`` from the RAW
    token stream instead of the normalized one: each raw token is a
    ``\\S+`` run carrying its trailing whitespace (the first also
    carries the document's leading whitespace), so casing, newlines
    and spacing of the surviving text are preserved byte-for-byte.
    Duplicate DETECTION is unchanged (shingles always match on the
    normalized form — the two streams have identical positions, since
    normalization only lowercases and collapses separators). This is
    the mode :func:`operators.curate.curate_corpus` uses so downstream
    line-based quality signals stay meaningful; the default stays
    normalized for the oracle-replayable gate query. One edge-count
    difference: empty/whitespace-only docs report ``n_words = 0`` in
    raw mode (the raw tokenizer finds no tokens) versus 1 in
    normalized mode (split('') is ['']); ``text_clean`` is '' either
    way.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    base_cols = [F.col(id_col), words.alias("__w")]
    if preserve_raw:
        # each raw token is a \S+ run plus its TRAILING whitespace; the
        # document's LEADING whitespace belongs to no such run, so
        # matching \s*\S+\s* instead folds it into the first token —
        # without it, text starting with spaces/newlines would lose
        # them on reassembly (the match count, and hence the positional
        # alignment with the normalized word stream, is unchanged:
        # after any match the next leading \s* is always empty)
        base_cols.append(
            F.regexp_extract_all(
                F.col(text_col), F.lit(r"\s*\S+\s*"), 0
            ).alias("__r")
        )
    from amaxa_spark.operators.similarity import _scale_out

    base = _scale_out(df).select(*base_cols)
    grams = F.expr(
        f"CASE WHEN size(__w) >= {n} THEN "
        f"transform(sequence(1, size(__w) - {n - 1}), "
        f"i -> struct(i AS p, concat_ws(' ', slice(__w, i, {n})) AS s)) "
        f"ELSE array() END"
    )
    spans = base.select(id_col, F.explode(grams).alias("g")).select(
        id_col, F.col("g.p").alias("p"), F.col("g.s").alias("shingle")
    )
    shared = (
        spans.select(id_col, "shingle")
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") >= 2)
        .select("shingle")
    )
    covered = (
        spans.join(shared, "shingle", "left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("p"), F.col("p") + F.lit(n - 1))
            ).alias("cp"),
        )
        .distinct()
    )
    tok_src = "__r" if preserve_raw else "__w"
    toks = base.select(
        id_col, F.posexplode(tok_src).alias("pos0", "word")
    ).select(id_col, (F.col("pos0") + 1).alias("cp"), "word")
    kept = toks.join(covered, [id_col, "cp"], "left_anti")
    joined = F.concat_ws(
        "" if preserve_raw else " ",
        F.transform(
            F.array_sort(F.collect_list(F.struct("cp", "word"))),
            lambda s: s["word"],
        ),
    )
    if preserve_raw:
        # the last surviving token carries its trailing separator
        joined = F.regexp_replace(joined, r"\s+$", "")
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__kept"),
        joined.alias("text_clean"),
    )
    totals = base.select(id_col, F.size(tok_src).alias("n_words"))
    return totals.join(rebuilt, id_col, "left").select(
        id_col,
        "n_words",
        (F.col("n_words") - F.coalesce(F.col("__kept"), F.lit(0)))
        .cast("int")
        .alias("n_removed"),
        F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
    )


def corpus_diff(
    old: DataFrame, new: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Snapshot diff between two corpus versions — the incremental-
    crawl bookkeeping step: which documents were added, removed, or
    changed (by normalized content hash) between snapshots. Returns
    (id, status) for status in added | removed | changed; unchanged
    rows are omitted (at 100 TB they are almost the whole corpus and
    carrying them defeats the point).

    Scale shape: each side reduces to (id, md5) — narrow frames — then
    one full outer join on id. Content never crosses the shuffle, only
    32-byte hashes; the join is the standard re-crawl delta shape.
    """
    # presence markers, NOT hash nullness: a doc with NULL text hashes
    # to NULL, and keying status on the hash would misreport a removed
    # null-text doc as 'added'
    oh = old.select(
        F.col(id_col).alias("__id"),
        F.md5(normalize_text(F.col(text_col))).alias("__oh"),
        F.lit(1).alias("__op"),
    )
    nh = new.select(
        F.col(id_col).alias("__id"),
        F.md5(normalize_text(F.col(text_col))).alias("__nh"),
        F.lit(1).alias("__np"),
    )
    j = oh.join(nh, "__id", "full_outer")
    status = (
        F.when(F.col("__op").isNull(), F.lit("added"))
        .when(F.col("__np").isNull(), F.lit("removed"))
        .when(~F.col("__oh").eqNullSafe(F.col("__nh")), F.lit("changed"))
    )
    return (
        j.select(F.col("__id").alias(id_col), status.alias("status"))
        .where(F.col("status").isNotNull())
    )

def semantic_dedup(
    emb: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.95,
    kmeans_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_impl: str = "hof",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding
    space, then look for near-duplicates ONLY within each cluster —
    the pruning that makes semantic dedup tractable where all-pairs
    cosine is a dead n² computation. A vector is a semantic duplicate
    if some cluster-mate EARLIER in the cluster's canonical order
    (similarity-to-centroid DESC, id ASC — most-central first, the
    deterministic stand-in for the paper's keep-one-per-group rule)
    has cosine ≥ ``threshold`` with it. The reference engine has no
    embedding operators at all (amaxa/amaxa.py:1 is id-graph
    extraction) — beyond-reference pipeline component.

    ``assign_impl="pandas"`` swaps the K×n codebook training and
    assignment for the BLAS twin (one numpy GEMM per Arrow batch, see
    :func:`~amaxa_spark.operators.similarity.assign_cells`) — the
    scale path when K grows with the corpus; ``hof`` is the
    cross-engine-deterministic oracle baseline.

    Output: (id_col, cid, dup) — every vector, its cluster, and
    whether SemDeDup would drop it.

    Determinism: the codebook is :func:`~amaxa_spark.operators.
    similarity.kmeans_codebook` (lowest-id seeds, rounded-argmax
    assignment, per-component-rounded means), so a DuckDB oracle can
    replay the identical Lloyd iterations as unrolled CTEs; all
    cosines round to 6 decimals before any comparison.

    Scale shape: codebook + assignment are the IVF build path
    (broadcast K-row codebook, one corpus pass, max_by argmax — no
    per-vector sort). The within-cluster pairing shuffles vectors
    once by cid and is quadratic ONLY in cluster size: K is the scale
    lever and grows with the corpus (the paper's own design — 50k
    clusters for LAION-440M), keeping E[cluster] = n/K bounded; the
    window rank adds a per-cluster sort of rows already co-located by
    the same shuffle. Pairs carry ids + rounded sims, never text.
    """
    from amaxa_spark.operators.similarity import (
        _cb_literal,
        _dot,
        _norm,
        _rows_of,
        assign_cells,
        kmeans_codebook,
    )

    base = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    cent = kmeans_codebook(
        base, n_centroids, kmeans_iters, id_col=id_col,
        assign_impl=assign_impl,
    )
    if assign_impl == "hof":
        # assignment carries its own-centroid sim out of the argmax
        # struct directly — the max's __s IS cos(v, centroid(cid)),
        # the identical rounded expression the old plan recomputed
        # through a broadcast join after assignment
        rows = _rows_of(cent)
        vn = _norm(F.col("__v"))
        scored = F.transform(
            _cb_literal(rows),
            lambda s: F.struct(
                F.round(_dot(F.col("__v"), s["__cv"]) / (F.col("__vn") * s["__cn"]), 6)
                .alias("__s"),
                (-s["cid"]).alias("__nc"),
                s["cid"].alias("cid"),
            ),
        )
        assigned = (
            base.select(id_col, "__v", vn.alias("__vn"))
            .select(
                id_col, "__v", "__vn", F.array_max(scored).alias("__b")
            )
            .select(
                id_col,
                "__v",
                "__vn",
                F.col("__b.cid").alias("cid"),
                F.col("__b.__s").alias("__s"),
            )
        )
    else:
        assign = assign_cells(base, cent, id_col, impl=assign_impl)
        cos_c = F.round(
            _dot(F.col("__v"), F.col("__cv"))
            / (_norm(F.col("__v")) * _norm(F.col("__cv"))),
            6,
        )
        assigned = assign.join(F.broadcast(cent), "cid").select(
            id_col, "__v", _norm(F.col("__v")).alias("__vn"),
            "cid", cos_c.alias("__s"),
        )
    # checkpoint BEFORE the within-cluster self-join: both sides read
    # the materialized (id, cid, __v, __vn, __s, __rn) rows instead of
    # re-deriving the assignment lineage twice (the self-join scans
    # this frame twice either way — the materialization is the
    # minimal one). __vn rides along so the pair cosine pays one dot,
    # not a dot plus two re-derived norms (same values, hoisted).
    ranked = (
        assigned.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("cid").orderBy(
                    F.col("__s").desc(), F.col(id_col).asc()
                )
            ),
        )
        .localCheckpoint(eager=True)
    )
    a = ranked.select(
        F.col("cid"),
        F.col(id_col).alias("__ida"),
        F.col("__v").alias("__va"),
        F.col("__vn").alias("__na"),
        F.col("__rn").alias("__rna"),
    )
    b = ranked.select(
        F.col("cid"),
        F.col(id_col).alias("__idb"),
        F.col("__v").alias("__vb"),
        F.col("__vn").alias("__nb"),
        F.col("__rn").alias("__rnb"),
    )
    cos_ab = F.round(
        _dot(F.col("__va"), F.col("__vb"))
        / (F.col("__na") * F.col("__nb")),
        6,
    )
    dups = (
        a.join(b, "cid")
        .where(F.col("__rna") < F.col("__rnb"))
        .where(cos_ab >= threshold)
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return (
        ranked.select(id_col, "cid")
        .join(dups, id_col, "left")
        .select(
            id_col,
            "cid",
            F.coalesce(F.col("__dup"), F.lit(False)).alias("dup"),
        )
    )


def hamming_near_dups(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    band_bits: int = 14,
    allow_lossy: bool = False,
) -> DataFrame:
    """Near-duplicate pairs by Hamming distance over a compact binary
    sketch (perceptual image dhash, simhash, ...): the 100 TB-shaped
    plan is band-bucket candidate generation — the hash splits into
    ``bands`` fixed windows of ``band_bits`` bits; only pairs sharing
    at least one full band ever meet (equi-join on (band index, band
    value), ids-only through the explosion, cross-band dedup) — then
    an exact ``bit_count(xor)`` verify. By pigeonhole the candidate
    pass is LOSSLESS iff ``max_hamming < bands`` — the default
    (3 < 4) holds it, and a larger radius REQUIRES either more bands
    (narrower windows: more candidate collisions, the price of
    completeness) or an explicit ``allow_lossy=True`` opt-in to the
    LSH-style recall trade; a silently lossy '<= k' search that reads
    as exact was a reported review finding. Null hashes never pair
    (no evidence). Output: (id_a, id_b, hamming), id_a < id_b."""
    if max_hamming >= bands and not allow_lossy:
        raise ValueError(
            f"max_hamming={max_hamming} with bands={bands} is not "
            "pigeonhole-complete (a pair can differ in every band and "
            "never become a candidate): raise bands above max_hamming "
            "or pass allow_lossy=True for LSH-style recall"
        )
    mask = (1 << band_bits) - 1
    h = hashes.where(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("__id"), F.col(hash_col).alias("__h")
    )
    banded = h.select(
        "__id",
        "__h",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("bi"),
                    F.shiftright(F.col("__h"), i * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .alias("bv"),
                )
                for i in range(bands)
            ])
        ).alias("__b"),
    ).select("__id", "__h", F.col("__b.bi").alias("__bi"), F.col("__b.bv").alias("__bv"))
    left = banded.select(
        F.col("__bi"), F.col("__bv"),
        F.col("__id").alias("id_a"), F.col("__h").alias("__ha"),
    )
    right = banded.select(
        F.col("__bi"), F.col("__bv"),
        F.col("__id").alias("id_b"), F.col("__h").alias("__hb"),
    )
    cand = (
        left.join(right, ["__bi", "__bv"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__ha", "__hb")
        .distinct()  # cross-band dedup BEFORE the verify
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)
