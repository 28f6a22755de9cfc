"""Similarity search over embedding columns (``array<float>``).

* ``cosine_expr``        — exact cosine as a pure Column expression
                           (``aggregate``/``zip_with``; JVM-side).
* ``cosine_arrow``       — the same cosine as an Arrow-batched pandas
                           UDF: each batch is stacked into a
                           ``(rows, dim)`` float64 matrix and scored
                           with one einsum — the corpus-scale path.
* ``brute_force_topk``   — exact top-k neighbors for a (small) query
                           set: broadcast queries x corpus, window
                           rank. The correctness baseline.
* ``hyperplane_bucket``  — deterministic random-hyperplane LSH key
                           (Column form; plus an Arrow batched variant
                           that does one ``mat @ planes.T`` per batch).
* ``lsh_topk``           — bucketed approximate top-k: equi-join on
                           bucket instead of the full cross product —
                           the 100 TB scale path (cross product is
                           O(N*Q); bucketing cuts it by ~2^planes).
* ``ivf_topk``           — inverted-file ANN: deterministic codebook,
                           one-matmul centroid assignment, probe-list
                           bucket join (the other standard scale path;
                           full-probe degenerates to the exact result).

Vector math runs as BLAS-batched Arrow pandas UDFs: Spark evaluates
higher-order array functions INTERPRETED per element, a large
constant-factor tax at corpus scale. The pure Column-expression forms
(``cosine_expr``, ``hyperplane_bucket``) are kept because their
sequential fold order reproduces DuckDB's accumulation bit-for-bit.
``vec_impl`` (``"arrow"`` default, or ``"expr"``) selects between them
only on ``brute_force_topk``, ``brute_force_all_pairs_topk`` and
``dedup.embedding_near_duplicates`` — the three operators whose DuckDB
oracle queries (``__spark_entry__.py``) run both ways; ``lsh_topk``,
``ivf_topk`` and ``lsh_all_pairs_topk`` are Arrow only. The two forms
agree up to the last-ulp summation-order difference; tests assert exact
bucket equality and cosine agreement at 1e-9 on the test corpus.

Hyperplanes are generated from ``xxhash64`` of (plane, dim) so they are
deterministic, identical on every executor, and need no broadcast of
random state; the Arrow path materializes the same (tiny) plane matrix
once on the driver via the identical hash expressions and ships it in
the UDF closure.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def topk_per_key(
    scored: DataFrame,
    key_col: str,
    k: int,
    order_col: str = "cosine",
    tiebreak_col: str = "vec_id",
    salt_buckets: int = 64,
) -> DataFrame:
    """Exact per-key top-k that never funnels one key's full candidate
    set through a single task.

    A plain ``Window.partitionBy(key)`` rank sends EVERY candidate of a
    key to one reducer — for corpus-sized candidate sets (brute-force
    ANN) that is the scale killer. Two stages, both exact: rank within
    ``(key, hash(tiebreak) % salt_buckets)`` and keep k per salt bucket
    (partitions are 1/salt_buckets of the candidate set), then rank the
    surviving ``<= k * salt_buckets`` rows per key. The global top-k is
    contained in the union of per-bucket top-ks, so the result is
    identical to the single-window rank, including the deterministic
    ``(order desc, tiebreak asc)`` tie-break."""
    salt = F.pmod(F.xxhash64(F.col(tiebreak_col)), F.lit(salt_buckets))
    # no repartition pin on this exchange: in an A/B a fixed-count
    # exchange cost more than AQE's byte-based coalescing here (q4b
    # 3.5 -> 4.1s, q4c 5.6-7.3 -> 7.7s).
    w1 = Window.partitionBy(F.col(key_col), salt).orderBy(
        F.desc(order_col), F.asc(tiebreak_col)
    )
    pre = scored.withColumn("_r1", F.row_number().over(w1)).where(
        F.col("_r1") <= k
    ).drop("_r1")
    w2 = Window.partitionBy(key_col).orderBy(F.desc(order_col), F.asc(tiebreak_col))
    return pre.withColumn("rank", F.row_number().over(w2)).where(
        F.col("rank") <= k
    )


def dot_expr(a, b) -> Column:
    """Dot product of two array<float> columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm_expr(a) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_expr(a, b) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    denom = norm_expr(a) * norm_expr(b)
    return F.when(denom > 0, dot_expr(a, b) / denom).otherwise(F.lit(0.0))


def _to_matrix(v: pd.Series, dim: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """Stack an Arrow list column into a dense ``(rows, dim)`` float64
    matrix plus a validity mask. A row is valid iff it is non-NULL and
    has the expected length (``dim``, or the batch's first non-NULL
    length when not given); invalid rows stack as zeros and are masked.
    This is what keeps one NULL or ragged embedding row from crashing a
    whole-corpus Arrow batch (``np.array(list(v))`` on mixed lengths
    builds an object array and the einsum throws).

    The common all-valid batch takes ONE ``np.vstack`` over the Arrow
    views (C-level copy) — a per-row Python assignment loop runs per
    batch element and dominates the cosine stage's profile
    (millions of pair rows per corpus pass, each carrying two vectors);
    ``vstack`` raises ``ValueError`` on a ragged row or a NULL among
    vectors, and stacks an all-NULL batch into an object matrix, which
    routes exactly the dirty batches to the masked slow path with
    identical results. Any other error propagates."""
    arr = v.to_numpy()
    try:
        mat = np.vstack(arr)
    except (ValueError, TypeError):
        mat = None
    if mat is not None and mat.dtype != object and (dim is None or mat.shape[1] == dim):
        return mat.astype(np.float64, copy=False), np.ones(len(arr), dtype=bool)
    rows = [None if r is None else np.asarray(r, dtype=np.float64) for r in v]
    if dim is None:
        dim = next((int(r.size) for r in rows if r is not None), 0)
    ok = np.fromiter(
        (r is not None and r.size == dim for r in rows), dtype=bool, count=len(rows)
    )
    mat = np.zeros((len(rows), dim), dtype=np.float64)
    for i in np.flatnonzero(ok):
        mat[i] = rows[i]
    return mat, ok


def cosine_arrow(a, b) -> Column:
    """Arrow-batched exact cosine: one einsum per Arrow batch over the
    stacked ``(rows, dim)`` float64 matrices instead of three
    interpreted per-element array folds per row. Marked
    nondeterministic so Catalyst never duplicates the UDF into a
    pushed-down filter AND the projection (one ArrowEvalPython node;
    same documented trade as ``scoring.score_pairs``). NULL or
    ragged-length vectors score 0.0 — the same result the Column form
    produces when its NULL-propagating fold reaches the ``otherwise``
    branch — so a dirty row degrades to "no similarity" instead of
    failing the batch."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b

    @pandas_udf("double")
    def _cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        ma, oka = _to_matrix(va)
        mb, okb = _to_matrix(vb, ma.shape[1] if ma.shape[1] else None)
        if ma.shape[1] != mb.shape[1] or ma.shape[1] == 0:
            return pd.Series(np.zeros(len(va)))
        dot = np.einsum("ij,ij->i", ma, mb)
        denom = np.sqrt(np.einsum("ij,ij->i", ma, ma)) * np.sqrt(
            np.einsum("ij,ij->i", mb, mb)
        )
        ok = oka & okb & (denom > 0)
        out = np.divide(dot, denom, out=np.zeros_like(dot), where=ok)
        return pd.Series(out)

    return _cos.asNondeterministic()(a, b)


# (n_planes, dim, seed) -> (n_planes, dim) float64 — tiny, deterministic
_PLANE_CACHE: dict[tuple[int, int, int], np.ndarray] = {}


def plane_matrix(spark, n_planes: int, dim: int, seed: int) -> np.ndarray:
    """The hyperplane components as a driver-side NumPy matrix, computed
    with the SAME Spark hash expressions as ``_plane_component`` so the
    Arrow and Column bucket paths see bit-identical planes. n_planes x
    dim doubles — negligible to collect and to close over."""
    key = (n_planes, dim, seed)
    m = _PLANE_CACHE.get(key)
    if m is None:
        base = spark.range(dim).select(F.col("id").cast("int").alias("i"))
        rows = base.select(
            "i",
            *[_plane_component(p, F.col("i"), seed).alias(f"p{p}") for p in range(n_planes)],
        ).orderBy("i").collect()
        m = np.array(
            [[r[f"p{p}"] for p in range(n_planes)] for r in rows], dtype=np.float64
        ).T
        _PLANE_CACHE[key] = m
    return m


def _probe_dim(df: DataFrame, vec: Column) -> int | None:
    """Vector dimensionality from one single-row driver job. Used only
    when the caller did not pass ``dim`` explicitly — the probe
    re-evaluates the upstream plan eagerly at Column-construction time
    (and is unusable on streaming DataFrames), so callers that know the
    dimensionality should pass it."""
    first = df.select(F.size(vec).alias("d")).first()
    return None if first is None or first["d"] is None else int(first["d"])


def hyperplane_bucket_arrow(
    df: DataFrame, vec: Column, n_planes: int = 12, seed: int = 42,
    dim: int | None = None,
) -> Column:
    """Arrow-batched sign-LSH bucket: ONE ``mat @ planes.T`` per Arrow
    batch replaces ``n_planes`` interpreted array folds per row. The
    plane matrix is materialized once via ``plane_matrix`` (identical
    hash-derived components as the Column form; exact bucket equality
    is asserted in tests). Pass ``dim`` to skip the eager one-row
    dimension probe (see ``_probe_dim``). NULL / ragged-length vectors
    get a NULL bucket, which never equi-joins — the row silently drops
    out of candidate generation instead of failing the batch."""
    if dim is None:
        dim = _probe_dim(df, vec)
    if dim is None:
        # empty input / null vectors: fall back to the Column form (no
        # dimension to build a matrix from; result set is empty anyway)
        return hyperplane_bucket(vec, n_planes, seed)
    planes = plane_matrix(df.sparkSession, n_planes, dim, seed)

    @pandas_udf("long")
    def _bucket(v: pd.Series) -> pd.Series:
        mat, ok = _to_matrix(v, planes.shape[1])
        if mat.shape[0] == 0:
            return pd.Series(np.zeros(0, dtype=np.int64))
        bits = (mat @ planes.T) >= 0  # (rows, n_planes)
        out = np.zeros(mat.shape[0], dtype=np.int64)
        for p in range(planes.shape[0]):
            out |= bits[:, p].astype(np.int64) << p
        res = pd.Series(pd.array(out, dtype="Int64"))
        res[~ok] = pd.NA
        return res

    return _bucket.asNondeterministic()(vec)


def multitable_buckets_arrow(
    df: DataFrame, vec: Column, n_planes: int, n_tables: int, seed: int,
    dim: int | None = None,
) -> Column:
    """``array<long>`` of per-table sign-LSH buckets (table t's planes
    are seeded ``seed + t``, matching the Column form), computed with a
    single stacked matmul per Arrow batch instead of
    ``n_tables * n_planes`` interpreted folds per row. Pass ``dim`` to
    skip the eager one-row dimension probe. NULL / ragged rows yield a
    NULL array — ``explode``/``posexplode`` emit nothing for NULL, so
    the row drops out of every table instead of failing the batch."""
    if dim is None:
        dim = _probe_dim(df, vec)
    if dim is None:
        return F.array(
            *[hyperplane_bucket(vec, n_planes, seed + t) for t in range(n_tables)]
        )
    spark = df.sparkSession
    planes_all = np.vstack(
        [plane_matrix(spark, n_planes, dim, seed + t) for t in range(n_tables)]
    )  # (n_tables * n_planes, dim)

    @pandas_udf("array<long>")
    def _mb(v: pd.Series) -> pd.Series:
        mat, ok = _to_matrix(v, planes_all.shape[1])
        if mat.shape[0] == 0:
            return pd.Series([], dtype=object)
        bits = ((mat @ planes_all.T) >= 0).astype(np.int64)  # (rows, T*P)
        out = np.zeros((mat.shape[0], n_tables), dtype=np.int64)
        for t in range(n_tables):
            for p in range(n_planes):
                out[:, t] |= bits[:, t * n_planes + p] << p
        return pd.Series(
            [out[i] if ok[i] else None for i in range(mat.shape[0])]
        )

    return _mb.asNondeterministic()(vec)


def _cosine(a, b, vec_impl: str) -> Column:
    if vec_impl == "arrow":
        return cosine_arrow(a, b)
    if vec_impl == "expr":
        return cosine_expr(a, b)
    raise ValueError(f"vec_impl must be 'arrow' or 'expr', got {vec_impl!r}")


def _bucket(
    df, vec: Column, n_planes: int, seed: int, vec_impl: str,
    dim: int | None = None,
) -> Column:
    if vec_impl == "arrow":
        return hyperplane_bucket_arrow(df, vec, n_planes, seed, dim=dim)
    if vec_impl == "expr":
        return hyperplane_bucket(vec, n_planes, seed)
    raise ValueError(f"vec_impl must be 'arrow' or 'expr', got {vec_impl!r}")


def _plane_component(plane: int, dim_idx: Column, seed: int) -> Column:
    """Deterministic pseudo-gaussian-ish component in [-1, 1): derived
    from xxhash64(plane, dim, seed) — sign-LSH only needs symmetry."""
    h = F.xxhash64(F.lit(plane), dim_idx, F.lit(seed))
    return (h % 10_000_019).cast("double") / F.lit(10_000_019.0)


def hyperplane_bucket(vec: Column, n_planes: int = 12, seed: int = 42) -> Column:
    """Sign-pattern bucket id (bigint) from ``n_planes`` deterministic
    hyperplanes."""
    idx = F.sequence(F.lit(0), F.size(vec) - 1)
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        comp = F.zip_with(
            vec, idx, lambda v, i: v.cast("double") * _plane_component(p, i, seed)
        )
        proj = F.aggregate(comp, F.lit(0.0).cast("double"), lambda acc, v: acc + v)
        bit = F.when(proj >= 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(F.shiftleft(bit, p))
    return bucket


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_impl: str = "arrow",
) -> DataFrame:
    """Exact cosine top-k: ``(query_id, vec_id, cosine, rank)``.

    The query side is broadcast — the corpus is never shuffled, so this
    scales to arbitrary corpus size as long as the query set is small
    (the usual ANN-baseline shape). NULL-embedding rows are filtered on
    both sides (a row with no vector has no neighbors; the predicate is
    Catalyst-pushed to the scan)."""
    q = queries.where(F.col(vec_col).isNotNull()).select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = corpus.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).alias("cvec")
    )
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine", _cosine("qvec", "cvec", vec_impl)
    )
    return topk_per_key(scored, "query_id", k, tiebreak_col=id_col).select(
        "query_id", id_col, "cosine", "rank"
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via multi-table hyperplane LSH.

    Each of ``n_tables`` independent sign-LSH tables buckets corpus and
    queries; candidates are the union of same-bucket collisions, then
    exact cosine + rank. Recall grows as ``1-(1-p^planes)^tables``.
    NULL-embedding rows are filtered on both sides; pass ``dim`` to
    skip the eager dimension probe."""
    c = corpus.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col), F.col(vec_col).alias("cvec")
    )
    q = queries.where(F.col(vec_col).isNotNull()).select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    # ALL tables' buckets from ONE stacked matmul per side (one
    # dimension probe + one UDF each — per-table UDFs would run
    # 2*n_tables eager probe jobs and n_tables Arrow evals)
    cb = c.select(
        id_col, "cvec",
        F.posexplode(
            multitable_buckets_arrow(
                c, F.col("cvec"), n_planes, n_tables, seed, dim=dim
            )
        ).alias("_t", "_b"),
    )
    qb = q.select(
        "query_id", "qvec",
        F.posexplode(
            multitable_buckets_arrow(
                q, F.col("qvec"), n_planes, n_tables, seed, dim=dim
            )
        ).alias("_t", "_b"),
    )
    cand = (
        cb.join(F.broadcast(qb), ["_t", "_b"])
        .select("query_id", id_col, "qvec", "cvec")
        .dropDuplicates(["query_id", id_col])
    )
    scored = cand.withColumn("cosine", cosine_arrow("qvec", "cvec"))
    return topk_per_key(scored, "query_id", k, tiebreak_col=id_col).select(
        "query_id", id_col, "cosine", "rank"
    )


def _centroid_matrix(
    corpus: DataFrame, vec_col: str, id_col: str, n_centroids: int
) -> np.ndarray:
    """Deterministic IVF codebook: the ``n_centroids`` corpus vectors
    with the smallest ``xxhash64(id)`` (a seedless deterministic
    sample), L2-normalized so assignment argmax(dot) == argmax(cosine).
    Tiny (C x dim) — collected to the driver and shipped in the UDF
    closure like the hyperplane matrix."""
    rows = (
        corpus.select(F.col(id_col).alias("_i"), F.col(vec_col).alias("_v"))
        .withColumn("_h", F.xxhash64(F.col("_i")))
        .orderBy("_h", "_i")
        .limit(n_centroids)
        .collect()
    )
    mat = np.array([list(r["_v"]) for r in rows], dtype=np.float64)
    if mat.size == 0:
        return np.zeros((0, 0))
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def _refine_centroids(
    corpus_sel: DataFrame, cents: np.ndarray, n_iters: int
) -> np.ndarray:
    """Lloyd (k-means) refinement of the IVF codebook: assign every
    vector to its nearest centroid (one matmul pass per Arrow batch),
    average the members per cluster JVM-side (posexplode + groupBy
    (cid, pos) — a C x dim collect, tiny), L2-normalize. Deterministic:
    assignment ties break by centroid index (argpartition + stable
    sort), averages are Spark float aggregation over a fixed grouping.
    Empty clusters keep their previous centroid (standard practice;
    deterministic)."""
    for _ in range(n_iters):
        nc1 = _nearest_centroids_udf(cents, 1)
        assigned = corpus_sel.withColumn("cid", nc1(F.col("_v")).getItem(0))
        rows = (
            assigned.select("cid", F.posexplode("_v").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .collect()
        )
        new = cents.copy()
        for r in rows:
            # a ragged/invalid vector yields a NULL cid (the assignment
            # UDF's dirty-row contract) — it belongs to no cluster
            if r["cid"] is not None:
                new[r["cid"], r["pos"]] = r["m"]
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        cents = new / norms
    return cents


def _nearest_centroids_udf(centroids: np.ndarray, n_probe: int):
    """pandas UDF: per vector, the indices of its ``n_probe`` nearest
    codebook centroids by cosine (one matmul per Arrow batch)."""

    @pandas_udf("array<int>")
    def _nc(v: pd.Series) -> pd.Series:
        mat, ok = _to_matrix(v, centroids.shape[1])
        if mat.shape[0] == 0:
            return pd.Series([], dtype=object)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        sims = (mat / norms) @ centroids.T  # (rows, C)
        p = min(n_probe, centroids.shape[0])
        # argpartition + exact sort of the top slice: O(C) per row
        idx = np.argpartition(-sims, p - 1, axis=1)[:, :p]
        order = np.take_along_axis(sims, idx, 1).argsort(axis=1)[:, ::-1]
        top = np.take_along_axis(idx, order, 1).astype(np.int32)
        # NULL / ragged rows: NULL probe list (explode emits nothing,
        # the NULL cid never equi-joins) instead of a batch crash
        return pd.Series([top[i] if ok[i] else None for i in range(mat.shape[0])])

    return _nc.asNondeterministic()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    n_centroids: int = 64,
    n_probe: int = 8,
    refine_iters: int = 0,
    assign_replicas: int = 1,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index — the
    other standard ANN scale path next to sign-LSH: assign every corpus
    vector to its nearest codebook centroid (one broadcast matmul per
    Arrow batch; the corpus is scanned once and shuffles only on the
    small ``cid`` key), probe each query's ``n_probe`` nearest
    centroids, exact-score only the probed buckets, salted top-k.
    Candidate volume is ~``n_probe/n_centroids`` of the corpus per
    query. With ``n_probe == n_centroids`` every bucket is probed and
    the result EQUALS the exact brute-force top-k (the driver-oracle
    construction — structurally independent of the codebook, so it
    holds for any ``refine_iters``); recall at realistic settings is
    asserted in tests against ``brute_force_topk``.

    ``refine_iters`` > 0 runs that many Lloyd (k-means) iterations over
    the corpus to train the codebook (each iteration = one corpus
    assignment pass + a C x dim averaging collect). A trained codebook
    balances bucket sizes, which raises recall per probe on clustered
    data; on near-uniform data the gain is small — measure (the bench
    records recall for both).

    ``assign_replicas`` > 1 indexes every corpus vector into its top-a
    nearest buckets instead of one (IVF replication / multi-assignment
    — the standard recall lever for boundary vectors on weakly
    clustered data, where single-bucket IVF recall is intrinsically
    capped). Candidate volume grows by up to ``a`` x (recorded in the
    bench recall block as the cost multiple). Replicated pairs are
    deduplicated on an IDS-ONLY frame before exact scoring — the
    distinct shuffles (query_id, id) pairs, never vectors, and the
    payloads re-attach via one corpus equi-join plus the broadcast
    query side — so the full-probe == exact identity holds for any
    ``assign_replicas``."""
    corpus = corpus.where(F.col(vec_col).isNotNull())
    queries = queries.where(F.col(vec_col).isNotNull())
    cents = _centroid_matrix(corpus, vec_col, id_col, n_centroids)
    if refine_iters > 0 and cents.size > 0:
        sel = corpus.select(F.col(vec_col).alias("_v")).persist()
        try:
            cents = _refine_centroids(sel, cents, refine_iters)
        finally:
            sel.unpersist()
    if cents.size == 0:
        # empty corpus: same contract as the other top-k operators —
        # an empty result frame (id types follow the inputs), not a
        # codebook-construction error
        return (
            queries.select(F.col(query_id_col).alias("query_id")).limit(0)
            .crossJoin(corpus.select(F.col(id_col)).limit(0))
            .withColumn("cosine", F.lit(0.0))
            .withColumn("rank", F.lit(1))
        )
    ncp = _nearest_centroids_udf(cents, n_probe)
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).withColumn("cid", F.explode(ncp(F.col("qvec"))))
    if assign_replicas <= 1:
        # single-bucket index: each (query, corpus) pair meets in at
        # most one bucket, so the bucket join feeds scoring directly
        nc1 = _nearest_centroids_udf(cents, 1)
        c = corpus.select(F.col(id_col), F.col(vec_col).alias("cvec")).withColumn(
            "cid", nc1(F.col("cvec")).getItem(0)
        )
        scored = c.join(F.broadcast(q), "cid").withColumn(
            "cosine", cosine_arrow("qvec", "cvec")
        )
    else:
        # replicated index: a pair can meet in up to `a` buckets —
        # dedupe on an ids-only frame (fixed-width shuffle rows), then
        # re-attach the vectors (corpus equi-join + broadcast queries)
        # and exact-score each surviving pair exactly once
        nca = _nearest_centroids_udf(cents, assign_replicas)
        c_assign = corpus.select(
            F.col(id_col), F.col(vec_col).alias("cvec")
        ).withColumn("cid", F.explode(nca(F.col("cvec"))))
        cand = (
            c_assign.select("cid", id_col)
            .join(F.broadcast(q.select("cid", "query_id")), "cid")
            .select("query_id", id_col)
            .distinct()
        )
        scored = (
            cand.join(
                corpus.select(F.col(id_col), F.col(vec_col).alias("cvec")),
                id_col,
            )
            .join(
                F.broadcast(
                    queries.select(
                        F.col(query_id_col).alias("query_id"),
                        F.col(vec_col).alias("qvec"),
                    )
                ),
                "query_id",
            )
            .withColumn("cosine", cosine_arrow("qvec", "cvec"))
        )
    return topk_per_key(scored, "query_id", k, tiebreak_col=id_col).select(
        "query_id", id_col, "cosine", "rank"
    )


def brute_force_all_pairs_topk(
    corpus: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    vec_impl: str = "arrow",
) -> DataFrame:
    """Exact corpus x corpus top-k neighbor lists:
    ``(query_id, vec_id, cosine, rank)`` for every corpus row.

    O(N^2) cross product — the CORRECTNESS BASELINE for all-pairs
    similarity (validation, small corpora, and recall measurement for
    ``lsh_all_pairs_topk``). Not a 100 TB plan by design; the scale
    path is the bucketed variant below."""
    corpus = corpus.where(F.col(vec_col).isNotNull())
    a = corpus.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
    b = corpus.select(F.col(id_col), F.col(vec_col).alias("cvec"))
    scored = (
        a.join(b, F.col("query_id") != F.col(id_col))
        .withColumn("cosine", _cosine("qvec", "cvec", vec_impl))
    )
    return topk_per_key(scored, "query_id", k, tiebreak_col=id_col).select(
        "query_id", id_col, "cosine", "rank"
    )


def lsh_all_pairs_topk(
    corpus: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 4,
    n_tables: int = 12,
    seed: int = 42,
    max_block_size: int | None = 100_000,
    dim: int | None = None,
) -> DataFrame:
    """Approximate corpus x corpus top-k (no broadcastable query side):
    the large-query-set ANN scale path.

    ``n_tables`` independent sign-LSH keys per row -> ONE salted,
    capped bucket self-join (reusing ``candidate_pairs``: exact-once
    unordered pairs, hot buckets sharded) -> exact cosine on the
    candidates -> expand to both directions -> per-id window top-k.
    Cost is sum of bucket sizes squared instead of N^2; recall per
    neighbor at angle θ is ``1-(1-(1-θ/π)^planes)^tables`` (tune
    planes up / tables down as density grows). Ranks are top-k OF THE
    CANDIDATE SET — recall vs the exact baseline is asserted in tests
    on the testdata embeddings."""
    from triple_accel_spark.operators.pairs import candidate_pairs

    # no rebalance_small_scan here: in an A/B its eager dimension probe
    # plus the added exchange below the candidate persist cost more
    # than the one-task bucket stage saved (3.59s vs 5.1-5.7s on the
    # q4b bench line).
    base = corpus.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("rid"), F.col(vec_col).alias("vec")
    )
    # ALL tables' sign buckets from ONE (rows, dim) @ (dim, T*P) matmul
    # per Arrow batch; each table key is mixed JVM-side as
    # xxhash64(table, bucket) (posexplode's pos is the table index)
    buckets = multitable_buckets_arrow(
        base, F.col("vec"), n_planes, n_tables, seed, dim=dim
    )
    blocked = base.select(
        "rid", "vec", F.posexplode(buckets).alias("_t", "_b")
    ).select(
        "rid", "vec", F.xxhash64(F.col("_t"), F.col("_b")).alias("block_key")
    )
    pairs = candidate_pairs(
        blocked,
        id_col="rid",
        block_col="block_key",
        payload_cols=("vec",),
        max_block_size=max_block_size,
    )
    scored = pairs.withColumn("cosine", cosine_arrow("vec_a", "vec_b"))
    # expand each unordered pair into both directions with ONE explode
    # over the already-computed cosine attribute. A two-branch union
    # would reference `scored` twice and duplicate the whole
    # candidate-join + cosine-UDF subtree in the plan: the distinct,
    # payload attach and Arrow cosine would each run twice per corpus
    # pass (the UDF is nondeterministic, so Catalyst cannot collapse
    # the copies).
    both = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("query_id"),
                    F.col("id_b").alias(id_col),
                    F.col("cosine"),
                ),
                F.struct(
                    F.col("id_b").alias("query_id"),
                    F.col("id_a").alias(id_col),
                    F.col("cosine"),
                ),
            )
        ).alias("_e")
    ).select("_e.*")
    out = topk_per_key(both, "query_id", k, tiebreak_col=id_col).select(
        "query_id", id_col, "cosine", "rank"
    )
    out._persisted_frames = getattr(pairs, "_persisted_frames", [])
    return out
