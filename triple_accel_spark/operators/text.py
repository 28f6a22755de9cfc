"""Text-analysis operators for training-data pipelines.

All pure Column expressions (JVM, whole-stage codegen) — no UDFs:

* ``token_count``       — whitespace tokens and a BPE-ish word/number/
                          punct regex count.
* ``quality_features``  — length / punctuation / stopword / repetition
                          ratios + a composite quality score.
* ``lang_id``           — tiny stopword-hit heuristic over a few
                          languages (deterministic, documented as a
                          heuristic, not a model).
* ``fingerprint64``     — order-sensitive rolling content fingerprint
                          (xxhash64 fold over q-grams; Column form).
* ``with_fingerprint``  — the same fingerprint as a single-pass
                          DataFrame op (explode -> combinable bit_xor
                          aggregation; the corpus-scale shape).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from triple_accel_spark.operators.blocking import (
    exploded_gram_rows,
    gram_hash_expr,
    qgrams,
    rebalance_small_scan,
)

_WORD_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "et", "les", "des", "est", "pas", "que", "une", "pour"],
    "es": ["el", "la", "que", "de", "los", "una", "por", "con", "para", "es"],
}


def token_count(text_col, mode: str = "regex") -> Column:
    """Token count: ``whitespace`` splits on runs of whitespace;
    ``regex`` counts word/number/punctuation units (BPE-ish pre-token
    boundary approximation).

    Counts come from ``regexp_count``: one regex scan, no per-token
    allocation, and the same counts as taking the size of the split
    token array (``split`` on trimmed text yields separators+1 pieces;
    NULL in -> NULL out either way under ANSI)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if mode == "whitespace":
        trimmed = F.trim(c)
        return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
            F.regexp_count(trimmed, F.lit(r"\s+")) + F.lit(1)
        )
    return F.regexp_count(c, F.lit(_WORD_RE))


def _ratio(num: Column, den: Column) -> Column:
    return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(
        F.lit(0.0)
    )


_ALPHA_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_SPACE_CHARS = " \t\n\x0b\f\r"  # exactly Java regex \s


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-signal columns + a composite ``quality_score`` in
    [0, 1] (heuristic weights; each signal is independently usable).

    The four character-class counts come from ``translate`` (codegen
    lookup-table char deletion), not from a ``regexp_replace`` pass per
    class that builds a stripped copy of every document (measured 52
    CPU-s against single-digit CPU-s on a 5k-doc corpus, counts
    identical: ``_SPACE_CHARS`` is exactly the Java regex ``\\s`` class,
    and alpha/digit/space/other partition the alphabet, so ``punct`` is
    the remainder)."""
    c = F.col(text_col)
    n = F.length(c)
    alpha = n - F.length(F.translate(c, _ALPHA_CHARS, ""))
    digit = n - F.length(F.translate(c, "0123456789", ""))
    space = n - F.length(F.translate(c, _SPACE_CHARS, ""))
    punct = n - alpha - digit - space
    words = token_count(text_col, "whitespace")
    uniq_words = F.size(F.array_distinct(F.split(F.lower(F.trim(c)), r"\s+")))
    out = (
        df.withColumn("n_chars", n)
        .withColumn("n_words", words)
        .withColumn("alpha_ratio", _ratio(alpha, n))
        .withColumn("digit_ratio", _ratio(digit, n))
        .withColumn("punct_ratio", _ratio(punct, n))
        .withColumn("space_ratio", _ratio(space, n))
        .withColumn("mean_word_len", _ratio(n - space, words))
        .withColumn("uniq_word_ratio", _ratio(uniq_words, words))
    )
    score = (
        F.least(F.col("alpha_ratio") / 0.6, F.lit(1.0)) * 0.4
        + (1 - F.least(F.col("punct_ratio") / 0.5, F.lit(1.0))) * 0.2
        + F.least(F.col("uniq_word_ratio"), F.lit(1.0)) * 0.2
        + F.when((F.col("mean_word_len") >= 2) & (F.col("mean_word_len") <= 12), 0.2)
        .otherwise(0.0)
    )
    return out.withColumn("quality_score", F.round(score, 6))


def lang_id(text_col) -> Column:
    """Heuristic language id: the language whose stopword list hits the
    most tokens; ``und`` (undetermined) when nothing hits."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = F.split(F.lower(c), r"[^a-zà-ÿ]+")
    scores = []
    for lang, words in STOPWORDS.items():
        # counts multiplicity: a repeated stopword scores once per use
        hits = F.size(F.filter(toks, lambda t: t.isin(words)))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def with_lang_id(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "lang_pred",
) -> DataFrame:
    """``(id, lang_pred)`` — single-pass corpus-scale ``lang_id``.

    Scale shape (same rewrite family as ``with_simhash``/
    ``with_fingerprint``): explode the token stream once (codegen
    ``split`` + ``explode``), then ONE map-side-combinable
    ``groupBy(id)`` computing per-language stopword-hit counts as
    conditional sums — the shuffle carries (id, one small int per
    language) regardless of document size, and no higher-order
    function appears in the plan (the ``lang_id`` Column form evaluates
    one interpreted ``filter`` lambda per language per row). The
    argmax-with-tiebreak is the same lexicographic struct max, so
    predictions are identical to the Column form (asserted in tests).
    Docs with no hits — including empty/NULL text — surface as
    ``und`` via the left join back to the id frame."""
    # rebalanced ONCE and shared: the token explode multiplies rows
    # ~100x, so a one-split scan serializes the count stage (see
    # rebalance_small_scan); ids prunes _lt at the scan either way
    base = rebalance_small_scan(
        df.select(F.col(id_col).alias("_lid"), F.col(text_col).alias("_lt"))
    )
    ids = base.select("_lid")
    toks = base.select(
        "_lid",
        F.explode(
            F.split(F.lower(F.col("_lt")), r"[^a-zà-ÿ]+")
        ).alias("_tok"),
    )
    # one hash-set membership test (isin over the union list compiles
    # to InSet above 10 items) drops every non-stopword token BEFORE
    # the per-language conditional counts, so their 10-way
    # string-compare chains see stopwords only. Docs with no hits lose
    # their counts row; the left join + coalesce(0) below maps that to
    # 'und'.
    all_stopwords = sorted({w for ws in STOPWORDS.values() for w in ws})
    toks = toks.where(F.col("_tok").isin(all_stopwords))
    counts = toks.groupBy("_lid").agg(
        *[
            F.count(F.when(F.col("_tok").isin(words), 1)).alias(f"_h_{lang}")
            for lang, words in STOPWORDS.items()
        ]
    )
    scores = F.array(
        *[
            F.struct(
                F.coalesce(F.col(f"_h_{lang}"), F.lit(0)).cast("int").alias("hits"),
                F.lit(lang).alias("lang"),
            )
            for lang in STOPWORDS
        ]
    )
    best = F.array_max(scores)
    return (
        ids.join(counts, "_lid", "left")
        .select(
            F.col("_lid").alias(id_col),
            F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
            .alias(out_col),
        )
    )


def fingerprint64(text_col, q: int = 8, gram_hash: str = "xxhash64") -> Column:
    """Order-sensitive 64-bit document fingerprint: xor-fold of
    position-salted q-gram hashes (a rolling-hash-style content id that
    tolerates nothing — equal fingerprints => almost surely equal
    docs).

    ``gram_hash="md5"`` salts by concatenating ``gram:index`` and
    hashes with md5 (top 60 digest bits as bigint) — slower, but both
    engines share md5 bit-for-bit so DuckDB can oracle the xor-fold
    algorithm exactly; the xxhash64 default stays the production path.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    grams = qgrams(c, q)
    idx = F.sequence(F.lit(0), F.size(grams) - 1)
    salted = F.zip_with(grams, idx, lambda g, i: gram_hash_expr(g, gram_hash, i))
    return F.aggregate(
        salted, F.lit(0).cast("long"), lambda acc, h: acc.bitwiseXOR(h)
    )


def with_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    q: int = 8,
    out_col: str = "fp",
    gram_hash: str = "xxhash64",
) -> DataFrame:
    """``(id, fp)`` — single-pass corpus-scale ``fingerprint64``.

    Scale shape (same rewrite as ``dedup.with_simhash``): explode the
    q-gram positions once (plain codegen ``explode`` + ``substring``),
    hash each position-salted gram once, then ONE map-side-combinable
    ``groupBy(id).agg(bit_xor(...))``. XOR is commutative/associative,
    so the combinable aggregate equals the Column form's sequential
    fold exactly — fingerprints are bit-identical to ``fingerprint64``
    for both gram hashes (asserted in tests), but the shuffle carries
    one (id, long) per doc and no higher-order function appears in the
    plan. Prefer this for whole-corpus jobs; the Column form remains
    for ad-hoc per-row use and composition inside expressions. The gram
    rows come from ``blocking.exploded_gram_rows`` over the RAW text
    (no normalization), so documents with NULL text or id get no row.
    """
    gram_rows = exploded_gram_rows(df, id_col, text_col, q, normalize=False)
    h = gram_hash_expr(F.col("_g"), gram_hash, salt=F.col("_i"))
    return gram_rows.groupBy(id_col).agg(F.bit_xor(h).alias(out_col))
