"""Large-scale corpus deduplication operators.

The building blocks a training-data pipeline needs over a document
table (``doc_id, text``):

* ``exact_duplicates``      — hash-groupBy on a content digest.
* ``minhash_lsh_duplicates``— shingle -> MinHash -> banded LSH ->
                              bucket self-join -> verified Jaccard.
* ``simhash64``/``with_simhash`` — 64-bit SimHash fingerprint
                              (Column expression / single-pass
                              DataFrame op; Hamming-ball search via
                              the engine's hamming kernel).
* ``ngram_jaccard``         — exact n-gram Jaccard for a pair frame.
* ``embedding_near_duplicates`` — cosine near-dup over a vector column.

All hot paths are built-in Column expressions (JVM, codegen). The
text sketches (the MinHash signature and gram-hash set, SimHash) are
one ``groupBy(id)`` each over the rows of
``blocking.exploded_gram_rows``, which rebalances, normalizes and sets
the NULL policy for all of them: a document with NULL text or a NULL
id has no sketch and pairs with nothing, not even another NULL
document.

Every near-duplicate route has one shape: a per-document sketch from
one aggregation, candidate pairs from ``pairs.candidate_pairs`` (keyed
by LSH bucket; bounded skew via its cap and salt) with each side's
sketch attached, then one column expression per pair. Exact Jaccard
verification compares the two documents' gram-hash sets with
``array_intersect``. A set holds at most ``len - q + 1`` longs, so a
pair carries data bounded by its documents' lengths, like the text
payload edit scoring re-attaches per pair; no shuffle row count is
multiplied by the number of grams.

Persist lifecycle: frames persisted internally are exposed on the
returned DataFrame as ``df._persisted_frames`` so materializing
callers (``dedup_near``, long-lived drivers) can unpersist them;
one-shot callers may instead ``spark.catalog.clearCache()``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from triple_accel_spark.operators.blocking import (
    exploded_gram_rows,
    gram_hash_expr,
    minhash_band_keys,
    normalized_text,
    qgrams,
)
from triple_accel_spark.operators.pairs import candidate_pairs
from triple_accel_spark.session import stage

# near-dup edge graphs at or below this edge count cluster via the
# bounded driver union-find: the star contraction's ~10 stages/round
# dominate small graphs (same routing and justification as the
# pipeline's cc_local_threshold — a latency optimization that
# 10^12-scale never triggers, never a scalability crutch)
CC_LOCAL_THRESHOLD = 100_000


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_ids: int | None = 1000,
) -> DataFrame:
    """Groups of byte-identical documents: ``(digest, n_copies, ids)``.

    One aggregation on a fixed-width digest. ``ids`` is BOUNDED by
    default (``max_ids=1000`` output entries; ``n_copies`` stays exact,
    so consumers detect capped groups via ``n_copies > size(ids)``) —
    an unbounded default hands adversarial corpora (billions of
    byte-identical boilerplate copies under one digest) an arbitrarily
    large output array. Pass ``max_ids=None`` for full membership on
    corpora known to be benign. Note the collect_list aggregation
    buffer still sees every id of a group either way, so at adversarial
    scale use ``dedup_exact`` (fully combinable min-per-digest, no list
    materialization) and derive membership by joining the digest.
    NULL policy: NULL-text rows have no content digest and are excluded
    (a NULL document is not a duplicate of anything, including other
    NULL documents — matching the blocking NULL policy)."""
    ids = F.sort_array(F.collect_list(id_col))
    if max_ids is not None:
        ids = F.slice(ids, 1, max_ids)
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            ids.alias("ids"),
        )
        .where(F.col("n_copies") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per identical-content group.

    Min-per-digest via a map-side-combinable aggregation joined back on
    the digest — NOT a window: ``Window.partitionBy(digest)`` funnels a
    whole duplicate group through one task, so a pathological group
    (the classic: billions of boilerplate copies) pins one reducer. The
    aggregate pre-combines per input partition and the equi-join is
    AQE-skew-splittable.

    NULL policy: a NULL document has no content digest and is never a
    duplicate of anything (not even another NULL document), so every
    NULL-text row is KEPT. The join is a left join whose build side
    holds only non-NULL digests; NULL-digest rows fall through with a
    NULL ``_keep`` and survive the filter — a dedup operator must never
    drop non-duplicate rows."""
    digest = F.md5(F.col(text_col))
    keep = (
        df.select(digest.alias("_dg"), F.col(id_col))
        .where(F.col("_dg").isNotNull())
        .groupBy("_dg")
        .agg(F.min(id_col).alias("_keep"))
    )
    return (
        df.withColumn("_dg", digest)
        .join(keep, "_dg", "left")
        .where((F.col("_keep").isNull()) | (F.col(id_col) == F.col("_keep")))
        .drop("_dg", "_keep")
    )


def minhash_lsh_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    q: int = 5,
    num_hashes: int = 32,
    num_bands: int = 8,
    jaccard_threshold: float = 0.7,
    max_block_size: int | None = 5000,
) -> DataFrame:
    """Near-duplicate pairs by MinHash LSH, verified with exact q-gram
    Jaccard: ``(id_a, id_b, jaccard)``.

    Band collision probability for Jaccard ``s`` is
    ``1 - (1 - s^(num_hashes/num_bands))^num_bands`` — defaults give
    >99% recall at s >= 0.7.

    Shape (the same as the SimHash and embedding routes): one
    per-document sketch, candidates from ``candidate_pairs`` (ids only
    here), then one column expression per pair. A single
    ``groupBy(rid)`` over the exploded gram-hash rows builds both the
    document's distinct gram-hash set and its MinHash signature. Each
    candidate gets both sides' sets by id; a lossless containment bound
    (``J <= min(|A|,|B|) / max(|A|,|B|)``) prunes length-mismatched
    pairs, and ``|A∩B| = size(array_intersect(A, B))``,
    ``J = |A∩B| / (|A| + |B| - |A∩B|)``. A set holds at most
    ``len - q + 1`` longs, so what a pair carries is bounded by its
    documents' lengths, as is the text payload edit scoring re-attaches
    per pair; nothing is multiplied by a document's gram count."""
    if jaccard_threshold <= 0:
        raise ValueError("jaccard_threshold must be > 0 (pairs with an "
                         "empty gram intersection are pruned, not scored)")
    bands = minhash_band_keys(
        [F.col(f"_h{s}") for s in range(num_hashes)], num_bands
    )
    gram_rows = exploded_gram_rows(df, id_col, text_col, q).select(
        F.col(id_col).alias("rid"), F.xxhash64("_g", F.lit(-1)).alias("gh")
    )
    # one map-side-combinable aggregation per document: the gram-hash
    # set and the signature. The min over the multiset equals the min
    # over the set, and re-hashing the 64-bit gram hash per seed
    # (hash-of-hash) is an equally valid minhash family. Consumed by
    # the blocking and by both sides of the verify -> persist (handle
    # surfaced via _persisted_frames, see module docstring); the
    # candidate base's eager pin materializes it.
    per_doc = gram_rows.groupBy("rid").agg(
        F.collect_set("gh").alias("_gs"),
        *[
            F.min(F.xxhash64("gh", F.lit(s))).alias(f"_h{s}")
            for s in range(num_hashes)
        ],
    ).persist()
    blocked = per_doc.select(
        "rid", F.explode(F.array(*bands)).alias("block_key")
    )
    pairs = candidate_pairs(
        blocked,
        id_col="rid",
        block_col="block_key",
        payload_cols=(),
        max_block_size=max_block_size,
    )
    sets = per_doc.select("rid", "_gs")
    na, nb = F.size("_gs_a"), F.size("_gs_b")
    # the containment bound is lossless: J can never exceed min/max, and
    # both are correctly rounded quotients of integers, so no pair the
    # jaccard filter keeps is dropped (the 1e-9 slack is a margin only)
    bound = F.least(na, nb).cast("double") / F.greatest(na, nb).cast("double")
    # |A∩B| comes out of a one-row generator, which the jaccard filter
    # cannot be pushed below: as a plain projection it is inlined into
    # the join condition and the filter, and evaluated three times
    sizes = F.inline(F.array(F.struct(
        na.alias("_na"), nb.alias("_nb"),
        F.size(F.array_intersect("_gs_a", "_gs_b")).alias("_i"),
    )))
    union = F.col("_na") + F.col("_nb") - F.col("_i")
    out = (
        pairs.join(sets.toDF("id_a", "_gs_a"), "id_a")
        .join(sets.toDF("id_b", "_gs_b"), "id_b")
        .where(bound >= F.lit(jaccard_threshold) - F.lit(1e-9))
        .select("id_a", "id_b", sizes)
        .select(
            "id_a", "id_b",
            (F.col("_i").cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= jaccard_threshold)
    )
    out._persisted_frames = [per_doc] + getattr(pairs, "_persisted_frames", [])
    return out


def dedup_near(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    q: int = 5,
    num_hashes: int = 32,
    num_bands: int = 8,
    jaccard_threshold: float = 0.7,
    method: str = "minhash",
    max_hamming: int = 3,
    gram_hash: str = "xxhash64",
    cosine_threshold: float = 0.95,
    n_planes: int = 12,
) -> DataFrame:
    """Keep one representative (min id) per NEAR-duplicate group: the
    standard training-corpus dedup endpoint. Composition: near-dup
    candidate pairs -> verified edges -> connected components -> keep
    each component's minimum id (deterministic, idempotent).

    ``method="minhash"`` (default) edges on verified q-gram Jaccard >=
    ``jaccard_threshold``; ``method="simhash"`` edges on fingerprint
    Hamming distance <= ``max_hamming`` via the bit-band route (cheaper
    verification — one popcount per candidate, no gram sets — at a
    coarser notion of nearness; ``num_bands``/``gram_hash`` pass
    through, recall guarantee per ``simhash_near_duplicates``);
    ``method="embedding"`` edges on exact cosine >= ``cosine_threshold``
    over sign-LSH candidate pairs (``text_col`` then names the
    ``array<float>`` embedding column; ``n_planes`` passes through to
    ``embedding_near_duplicates`` — semantic near-duplicates, the third
    standard notion next to lexical Jaccard and fingerprint Hamming)."""
    from triple_accel_spark.operators.clustering import connected_components

    if method == "simhash":
        edges = simhash_near_duplicates(
            df, text_col, id_col, q=q, max_hamming=max_hamming,
            n_bands=num_bands, gram_hash=gram_hash,
        )
    elif method == "minhash":
        edges = minhash_lsh_duplicates(
            df, text_col, id_col, q=q, num_hashes=num_hashes,
            num_bands=num_bands, jaccard_threshold=jaccard_threshold,
        )
    elif method == "embedding":
        edges = embedding_near_duplicates(
            df, text_col, id_col, cosine_threshold=cosine_threshold,
            n_planes=n_planes,
        )
    else:
        raise ValueError(
            f"method must be 'minhash', 'simhash' or 'embedding', got {method!r}"
        )
    # EAGER lineage barrier before CC: each star pass references its
    # input 4x and the per-round barriers inside connected_components
    # are lazy (they truncate only after first materialization), so
    # CC's first interval action would otherwise inline the whole
    # LSH-verification chain ~4^rounds times — measured 83s vs 8.4s on
    # a 256-edge graph at sf0.1. One job materializes the (tiny) edge
    # list once; CC then iterates over the RDD barrier. Counting the
    # checkpointed edge list is one cheap job that routes small graphs
    # to the local union-find (see CC_LOCAL_THRESHOLD).
    with stage(df.sparkSession, "dedup"):
        e = edges.select("id_a", "id_b").localCheckpoint(eager=True)
        n_edges = e.count()
    for fr in getattr(edges, "_persisted_frames", []):
        fr.unpersist()
    if n_edges <= CC_LOCAL_THRESHOLD:
        from triple_accel_spark.operators.clustering import (
            local_connected_components,
        )

        labels = local_connected_components(e)
    else:
        labels = connected_components(e)
    drop = labels.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")


def _simhash_mask(b: int) -> int:
    """Java-long bit mask for bit b (bit 63 is the sign bit)."""
    return 1 << b if b < 63 else -(2**63)


def _simhash_assemble(prefix: str) -> Column:
    """Fold 64 signed bit-count columns ``{prefix}0..{prefix}63`` into
    the fingerprint long (bit b set iff the count is positive)."""
    out = None
    for b in range(64):
        bit = F.when(F.col(f"{prefix}{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b) if b else bit
        out = term if out is None else out.bitwiseOR(term)
    return out


def simhash64(text_col, q: int = 4) -> Column:
    """64-bit SimHash of the q-gram multiset, as a bigint Column.

    Per bit b: sign of sum over grams of (bit b of xxhash64(gram)).
    This Column form folds with ``aggregate`` higher-order functions,
    which Spark evaluates INTERPRETED and re-inlines per bit — fine for
    ad-hoc use on short strings, wrong shape for corpus-scale jobs.
    Use ``with_simhash`` (one explode + one combinable aggregation) for
    anything large; the two produce identical fingerprints."""
    grams = qgrams(normalized_text(text_col), q)
    hashes = F.transform(grams, lambda g: F.xxhash64(g))
    bits = []
    for b in range(64):
        # +1 when bit set, -1 otherwise; sign of the sum is the fingerprint bit
        contrib = F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(_simhash_mask(b))) != 0, 1).otherwise(-1),
        )
        bit = F.when(contrib > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bits.append(F.shiftleft(bit, b) if b else bit)
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    q: int = 4,
    out_col: str = "simhash",
    gram_hash: str = "xxhash64",
) -> DataFrame:
    """``(id, simhash)`` — single-pass corpus-scale SimHash.

    Scale shape: explode the q-gram multiset once (plain codegen
    ``explode`` + ``substring``), hash each gram once, then ONE
    map-side-combinable ``groupBy(id)`` computing the 64 signed
    bit-count sums as conditional aggregates; the fingerprint is
    assembled JVM-side from the counts. The shuffle carries
    (id, 64 small ints) per doc regardless of document size — unlike
    the ``simhash64`` Column form, whose per-bit ``aggregate`` HOFs
    re-walk the gram array 64 times interpreted. With the default
    ``gram_hash`` fingerprints are bit-identical to ``simhash64``
    (same grams, hash, and sign rule); ``gram_hash="md5"`` swaps in
    the DuckDB-matchable 60-bit digest hash (see
    ``blocking.gram_hash_expr``). Left-join the result if the ids of
    documents without a sketch must be carried.
    """
    gram_rows = exploded_gram_rows(df, id_col, text_col, q).select(
        id_col, gram_hash_expr(F.col("_g"), gram_hash).alias("_h")
    )
    sums = gram_rows.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.col("_h").bitwiseAND(F.lit(_simhash_mask(b))) != 0, 1
                ).otherwise(-1)
            ).alias(f"_b{b}")
            for b in range(64)
        ]
    )
    return sums.select(id_col, _simhash_assemble("_b").alias(out_col))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    q: int = 4,
    max_hamming: int = 3,
    n_bands: int = 4,
    gram_hash: str = "xxhash64",
    max_block_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by SimHash bit-band LSH (the Manku/Jain/
    Das Sarma web-dedup construction): ``(id_a, id_b, hamming)`` for
    every pair whose 64-bit SimHash fingerprints differ in at most
    ``max_hamming`` bits.

    Shape: ``with_simhash`` (one explode + one combinable aggregation)
    -> split the fingerprint into ``n_bands`` contiguous bit slices ->
    block on each slice (salted, exactly-once self-join via
    ``candidate_pairs``; the only payload riding the join is the
    8-byte fingerprint) -> exact verification as pure JVM bit math:
    ``bit_count(sh_a ^ sh_b) <= max_hamming``.

    Recall is EXACTLY 1.0 by pigeonhole whenever
    ``max_hamming < n_bands`` (enforced): a pair within the Hamming
    budget cannot have a differing bit in every one of the
    ``n_bands > max_hamming`` slices, so it collides in at least one
    untouched band. With ``max_block_size=None`` (default) the result
    therefore EQUALS the exact O(n^2) Hamming filter — which is what
    the DuckDB driver oracle checks (``gram_hash="md5"`` mode). Capping
    hot bands trades that guarantee for boundedness; a capped band is
    an uninformative slice (e.g. all-zero fingerprints from boilerplate)
    and its loss is the standard LSH trade.

    Complements ``minhash_lsh_duplicates``: SimHash verification is one
    popcount per candidate over an 8-byte fingerprint, so the verify
    stage is pure fixed-width column math."""
    if max_hamming >= n_bands:
        raise ValueError(
            "recall guarantee requires max_hamming < n_bands "
            f"(got max_hamming={max_hamming}, n_bands={n_bands})"
        )
    if 64 % n_bands:
        raise ValueError("n_bands must divide 64")
    width = 64 // n_bands
    mask = (1 << width) - 1 if width < 64 else -1
    sh = with_simhash(df, text_col, id_col, q=q, out_col="_sh",
                      gram_hash=gram_hash)
    # band key: (band index, bit slice) packed via xxhash64 — the key
    # encoding never affects the result set (recall is structural), so
    # a mixed key is fine even in oracle mode
    bands = F.array(
        *[
            F.xxhash64(
                F.lit(b),
                F.shiftright(F.col("_sh"), b * width).bitwiseAND(F.lit(mask)),
            )
            for b in range(n_bands)
        ]
    )
    blocked = sh.select(
        F.col(id_col).alias("rid"), "_sh", F.explode(bands).alias("block_key")
    )
    pairs = candidate_pairs(
        blocked,
        id_col="rid",
        block_col="block_key",
        payload_cols=("_sh",),
        max_block_size=max_block_size,
    )
    out = (
        pairs.withColumn(
            "hamming",
            F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b"))).cast("long"),
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    out._persisted_frames = getattr(pairs, "_persisted_frames", [])
    return out


def ngram_jaccard(
    pairs: DataFrame, text_a: str = "text_a", text_b: str = "text_b", n: int = 3
) -> DataFrame:
    """Exact character n-gram Jaccard similarity for a pair frame."""
    ga = F.array_distinct(qgrams(F.col(text_a), n))
    gb = F.array_distinct(qgrams(F.col(text_b), n))
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(F.array_union(ga, gb))
    return pairs.withColumn(
        "jaccard",
        F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
            F.lit(1.0)
        ),
    )


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cosine_threshold: float = 0.95,
    n_planes: int = 12,
    seed: int = 42,
    max_block_size: int | None = 20000,
    vec_impl: str = "arrow",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via random-hyperplane LSH.

    Sign-bucket the vectors with ``n_planes`` deterministic hyperplanes
    (one bigint bucket key), self-join within buckets, verify exact
    cosine. Collision probability for angle θ is
    ``(1 - θ/π)^n_planes`` — near-duplicates (θ≈0) almost surely
    collide; distant vectors are pruned. ``vec_impl`` selects the
    BLAS-batched Arrow vector math (default) or the Column-expression
    form (see ``operators.similarity``)."""
    from triple_accel_spark.operators.similarity import _bucket, _cosine

    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("rid"), F.col(vec_col).alias("vec")
    )
    base = base.withColumn(
        "block_key", _bucket(base, F.col("vec"), n_planes, seed, vec_impl, dim=dim)
    )
    pairs = candidate_pairs(
        base,
        id_col="rid",
        block_col="block_key",
        payload_cols=("vec",),
        max_block_size=max_block_size,
    )
    out = (
        pairs.withColumn("cosine", _cosine("vec_a", "vec_b", vec_impl))
        .where(F.col("cosine") >= cosine_threshold)
        .select("id_a", "id_b", "cosine")
    )
    out._persisted_frames = getattr(pairs, "_persisted_frames", [])
    return out
