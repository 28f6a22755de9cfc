"""Blocking-key generation: q-gram shingles, MinHash band keys, and
simple SQL-expressible prefix keys.

All key generation is pure Column expressions (JVM-side, whole-stage
codegen, zero Python): shingles via ``sequence``+``substring`` inside
``transform``, MinHash via ``xxhash64(gram, seed)`` folded with
``array_min``, band keys via ``xxhash64`` over the banded signature
slice. A conversation lands in ``num_bands`` blocks; two conversations
collide in a band with probability ``s^band_size`` for Jaccard
similarity ``s`` — the standard LSH S-curve, tuned for high recall at
the 0.99-F1 operating point.

At 10^12-turn scale this stage is a narrow projection followed by one
explode — no shuffle until the pair join groups by block key.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# rebalance guard (see rebalance_small_scan): only scans whose TOTAL
# bytes are below cores * this are worth an extra shuffle — the point
# is unlocking idle cores on tiny inputs, not moving big corpora twice
_REBALANCE_MAX_BYTES_PER_CORE = 8 << 20


def rebalance_small_scan(df: DataFrame) -> DataFrame:
    """Raise map-side parallelism for SMALL file scans feeding
    explode-amplified operators (q-gram/token explodes multiply row
    counts ~1000x, so a one-split scan serializes minutes of downstream
    work on one core — guide §2.5 input skew: repartition right after
    the read).

    Strictly conditional so the 100 TB path is untouched: returns
    ``df`` unchanged unless the frame reads fewer files than the
    cluster has cores AND every file is local AND the total size is
    under ``cores * 8 MB`` (the rebalancing shuffle then costs
    milliseconds). Any probe failure — remote storage, streaming
    frames, no file source — leaves the plan alone. The keyless
    ``repartition`` is round-robin with Spark's default
    sort-before-repartition, so retries stay deterministic, and every
    caller aggregates with partition-order-insensitive functions
    (min / count / bit_xor / distinct, and collect_set read only through
    set sizes), so results are identical."""
    try:
        files = df.inputFiles()
    except Exception:
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if not files or len(files) >= p:
        return df
    total = 0
    for uri in files:
        if uri.startswith("file://"):
            path = uri[len("file://"):]
        elif uri.startswith("file:"):
            path = uri[len("file:"):]
        else:
            return df
        try:
            total += os.path.getsize(path)
        except OSError:
            return df
    if total > p * _REBALANCE_MAX_BYTES_PER_CORE:
        return df
    return df.repartition(p)


def normalized_text(col, lowercase: bool = True) -> Column:
    """Canonicalize text for blocking (NOT for scoring — scoring uses
    raw text): lowercase + collapse whitespace runs."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.regexp_replace(c, r"\s+", " ")


def qgrams(col, q: int = 4) -> Column:
    """Array of overlapping q-grams of the column (empty-safe)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    return F.when(
        n >= q,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(q - 1)),
            lambda i: c.substr(i, F.lit(q)),
        ),
    ).otherwise(F.array(c))


def exploded_gram_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    q: int,
    gram_alias: str = "_g",
    index_alias: str | None = None,
) -> DataFrame:
    """One row per q-gram start position of ``text_col``:
    ``(id, gram [, index])`` — the corpus-scale gram shape shared by
    the minhash / simhash / fingerprint operators (plain codegen
    ``explode`` + ``substring``; no higher-order functions). Texts
    shorter than ``q`` yield exactly one row — the whole text at index
    0 — matching ``qgrams``'s short-text fallback, so Column-form and
    exploded-form sketches stay bit-identical. Callers pre-project
    ``(id_col, text_col)`` and pre-filter NULL text per their policy."""
    n = F.length(text_col)
    rows = df.select(
        id_col,
        F.explode(
            F.sequence(F.lit(1), F.greatest(n - F.lit(q - 1), F.lit(1)))
        ).alias("_i"),
        text_col,
    )
    cols = [id_col, F.expr(f"substring({text_col}, _i, {q})").alias(gram_alias)]
    if index_alias is not None:
        # int arithmetic keeps the index the same TYPE as the Column
        # forms' sequence(0, size-1) elements — xxhash64 is type-aware
        cols.append((F.col("_i") - F.lit(1)).alias(index_alias))
    return rows.select(*cols)


def gram_hash_expr(col: Column, gram_hash: str, salt: Column | None = None) -> Column:
    """64-bit gram hash shared by the sketch operators. ``xxhash64`` is
    the fast production default; ``md5`` (top 60 bits of the digest as
    a bigint; ``salt`` concatenated as ``gram:salt``) exists because
    DuckDB and Spark share md5 bit-for-bit, giving the sketch
    ALGORITHMS a hard cross-engine oracle — xxhash64 has no DuckDB
    twin. md5 mode is for verification, not production."""
    if gram_hash == "md5":
        payload = (
            F.concat(col, F.lit(":"), salt.cast("string"))
            if salt is not None
            else col
        )
        return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")
    if gram_hash != "xxhash64":
        raise ValueError(f"gram_hash must be 'xxhash64' or 'md5', got {gram_hash!r}")
    return F.xxhash64(col, salt) if salt is not None else F.xxhash64(col)


def minhash_signature(grams: Column, num_hashes: int = 16) -> Column:
    """MinHash signature: per seed, the minimum ``xxhash64(gram, seed)``
    over the shingle set (array<bigint>, length ``num_hashes``)."""
    return F.array(
        *[
            F.array_min(F.transform(grams, lambda g: F.xxhash64(g, F.lit(s))))
            for s in range(num_hashes)
        ]
    )


def minhash_band_keys(hashes: list[Column], num_bands: int) -> list[Column]:
    """LSH band keys of a MinHash signature given as its ``num_hashes``
    per-seed Columns: ``xxhash64(band, h_i, ...)`` over each contiguous
    slice of ``num_hashes / num_bands`` hashes. The band index is mixed
    in so keys from different bands never collide. The one home of the
    key layout: the aggregation path (``minhash_band_table``,
    ``dedup.minhash_lsh_duplicates``) passes its ``_h<s>`` columns and
    the expression path (``with_minhash_blocks_expr``) the signature's
    elements, so the two paths' keys are interchangeable."""
    if len(hashes) % num_bands:
        raise ValueError("num_hashes must be divisible by num_bands")
    size = len(hashes) // num_bands
    return [
        F.xxhash64(F.lit(b), *hashes[b * size:(b + 1) * size])
        for b in range(num_bands)
    ]


def minhash_band_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "doc",
    q: int = 4,
    num_hashes: int = 16,
    num_bands: int = 8,
    lowercase: bool = True,
    out_col: str = "block_key",
) -> DataFrame:
    """``(id, block_key)`` — one row per (record, band).

    Scale-first minhash: explode q-gram ROWS (plain ``explode`` +
    ``substring``, fully codegen — no higher-order functions, whose
    per-element interpreted eval dominates wall time and whose inlined
    expression trees blow up codegen), then ONE map-side-combinable
    ``groupBy(id)`` with ``num_hashes`` ``min(xxhash64(gram, seed))``
    aggregates. The shuffle carries only (id, 16 longs) regardless of
    document size; at 10^12 turns this is the only viable shape."""
    bands = minhash_band_keys(
        [F.col(f"_h{s}") for s in range(num_hashes)], num_bands
    )
    # NULL policy: a NULL document yields no band keys (it cannot be
    # blocked or matched) — enforced identically in the expr path.
    # Rebalance the RAW projection and normalize AFTER it, so the regex
    # normalization runs post-shuffle instead of inside a one-task scan
    raw = rebalance_small_scan(
        df.select(F.col(id_col).alias("_mid"), F.col(text_col).alias("_raw"))
    )
    base = raw.select(
        "_mid", normalized_text("_raw", lowercase).alias("_t")
    ).where(F.col("_t").isNotNull())
    grams = exploded_gram_rows(base, "_mid", "_t", q)
    sig = grams.groupBy("_mid").agg(
        *[
            F.min(F.xxhash64("_g", F.lit(s))).alias(f"_h{s}")
            for s in range(num_hashes)
        ]
    )
    return sig.select(
        F.col("_mid").alias(id_col), F.explode(F.array(*bands)).alias(out_col)
    )


def with_minhash_blocks(
    df: DataFrame,
    text_col: str = "doc",
    q: int = 4,
    num_hashes: int = 16,
    num_bands: int = 8,
    lowercase: bool = True,
    out_col: str = "block_key",
    id_col: str = "conv_id",
) -> DataFrame:
    """Explode each row into ``num_bands`` rows with a ``block_key``
    (band table joined back on ``id_col`` — co-partitioned equi-join).

    NULL policy: rows with NULL text produce no gram rows (and rows
    with NULL id cannot equi-join back), so neither survives into the
    blocked output — deliberate: a NULL document cannot be blocked or
    matched; route such rows to a quarantine sink upstream if they must
    be accounted for. ``with_minhash_blocks_expr`` applies the same
    policy explicitly."""
    keys = minhash_band_table(
        df, id_col, text_col, q, num_hashes, num_bands, lowercase, out_col
    )
    return df.join(keys, id_col)


def with_minhash_blocks_expr(
    df: DataFrame,
    text_col: str = "doc",
    q: int = 4,
    num_hashes: int = 16,
    num_bands: int = 8,
    lowercase: bool = True,
    out_col: str = "block_key",
) -> DataFrame:
    """Pure-Column-expression variant of ``with_minhash_blocks`` —
    produces IDENTICAL keys (same gram set, same hash layout) with no
    aggregation or join, so it composes with Structured Streaming
    (a streaming query allows at most one aggregation) and with
    already-aggregated frames. Slower per row at batch scale (Spark
    higher-order functions evaluate interpreted); prefer the
    aggregation path for large batch jobs. Its one library caller is
    ``streaming.incremental``, which cannot run the aggregation form on
    a stream; it stays as long as that caller does.

    NULL policy (matches the batch path): rows with NULL text emit no
    block rows — the batch path drops them because a NULL text yields
    no gram rows to aggregate, so here the key array is nulled out
    before the explode."""
    norm = normalized_text(text_col, lowercase)
    sig = minhash_signature(qgrams(norm, q), num_hashes)
    keys = F.array(*minhash_band_keys(
        [F.element_at(sig, s + 1) for s in range(num_hashes)], num_bands
    ))
    return df.withColumn(
        out_col, F.explode(F.when(norm.isNotNull(), keys))
    )


def with_prefix_blocks(
    df: DataFrame,
    text_col: str = "doc",
    prefix_len: int = 8,
    lowercase: bool = True,
    out_col: str = "block_key",
) -> DataFrame:
    """Simple deterministic prefix block key (SQL-expressible; used for
    DuckDB-verifiable oracle queries and as a cheap sorted-neighborhood
    style key)."""
    key = F.substring(normalized_text(text_col, lowercase), 1, prefix_len)
    return df.withColumn(out_col, key)
