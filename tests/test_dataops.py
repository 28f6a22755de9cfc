"""Training-data pipeline operators: dedup, similarity search, text
analysis, multimodal plumbing — over the driver testdata tables."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from triple_accel_spark.operators.blocking import minhash_band_table
from triple_accel_spark.operators.dedup import (
    dedup_exact,
    exact_duplicates,
    minhash_lsh_duplicates,
    ngram_jaccard,
    simhash64,
    embedding_near_duplicates,
    with_simhash,
)
from triple_accel_spark.operators.multimodal import extract_features, synth_media
from triple_accel_spark.operators.similarity import (
    brute_force_topk,
    cosine_expr,
    lsh_topk,
)
from triple_accel_spark.operators.text import (
    fingerprint64,
    lang_id,
    quality_features,
    token_count,
    with_fingerprint,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa"), (5, "ccc")],
        "doc_id bigint, text string",
    )
    groups = exact_duplicates(df).collect()
    assert len(groups) == 1
    assert groups[0]["n_copies"] == 3 and groups[0]["ids"] == [1, 3, 4]
    kept = sorted(r["doc_id"] for r in dedup_exact(df).collect())
    assert kept == [1, 2, 5]


@pytest.mark.parametrize(
    "op",
    [
        lambda d: minhash_band_table(d, "doc_id", "text"),
        lambda d: minhash_lsh_duplicates(d, jaccard_threshold=0.5),
        with_simhash,
        with_fingerprint,
    ],
    ids=["minhash_band_table", "minhash_lsh_duplicates", "with_simhash",
         "with_fingerprint"],
)
def test_gram_builder_null_policy(spark, op):
    """The four sketch operators share ``exploded_gram_rows``' NULL
    policy: NULL text and NULL ids (here two documents, one a copy of a
    real one) give no row or pair, and the other rows are exactly those
    of the frame without them."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    clean = [(1, text), (2, text + "!"), (3, "a different document entirely")]
    dirty = clean + [(4, None), (None, text), (None, "another null id doc")]

    def rows(data):
        out = op(spark.createDataFrame(data, "doc_id bigint, text string"))
        try:
            return sorted((tuple(r) for r in out.collect()), key=repr)
        finally:
            for fr in getattr(out, "_persisted_frames", []):
                fr.unpersist()

    got = rows(dirty)
    assert got and not any(None in r for r in got), got
    assert got == rows(clean)


def test_minhash_lsh_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base.replace("lazy", "lzay")),  # near dup
        (3, "completely different content with no overlap whatsoever xyz"),
        (4, base),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_duplicates(df, jaccard_threshold=0.5).collect()
    }
    assert (1, 2) in pairs and (1, 4) in pairs and (2, 4) in pairs
    assert not any(3 in p for p in pairs)


@pytest.mark.parametrize(
    "kwargs",
    [{"jaccard_threshold": 0.0}, {"num_hashes": 30, "num_bands": 8}],
    ids=["threshold", "bands"],
)
def test_minhash_lsh_rejects_bad_arguments_before_any_job(spark, kwargs):
    """An invalid call raises before it runs a Spark job (and so before
    it persists anything it could leave cached)."""
    sc = spark.sparkContext
    group = f"minhash-args-{'-'.join(kwargs)}"
    df = spark.createDataFrame([(1, "abcdefgh"), (2, "abcdefgi")],
                               "doc_id bigint, text string")
    sc.setJobGroup(group, "argument validation")
    try:
        with pytest.raises(ValueError):
            minhash_lsh_duplicates(df, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize(
    "text",
    ["abcdefghijklmnopqrstuvwxyz0123456789!#$%&()*",
     "".join(chr(0x4E00 + i) for i in range(44))],
    ids=["ascii", "multibyte"],
)
def test_minhash_containment_bound_is_sound_at_its_boundary(spark, text):
    """The containment bound ``min(|A|,|B|) / max(|A|,|B|) >= τ`` keeps a
    pair whose gram sets nest with ``|A| / |B| = τ`` (so ``J = τ``) and
    drops the same pair with one gram fewer. 44 distinct characters give
    40 distinct 5-grams; a 24-character prefix gives 20 of them. Grams
    are characters, not UTF-8 bytes. With one hash per band, a pair
    misses candidacy only if all 16 of its minima differ."""
    rows = [(1, text), (2, text[:24]), (3, text[:23])]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = minhash_lsh_duplicates(df, q=5, num_hashes=16, num_bands=16,
                                 jaccard_threshold=0.5)
    try:
        got = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    finally:
        for fr in out._persisted_frames:
            fr.unpersist()
    # (1, 2): J = 20/40 = τ, kept; (1, 3): 19/40, dropped; (2, 3): 19/20
    assert got == {(1, 2): 0.5, (2, 3): 0.95}


def test_dedup_near_keeps_min_id_per_group(spark):
    from triple_accel_spark.operators.dedup import dedup_near

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base.replace("lazy", "lzay")),
        (4, base),
        (3, "completely different content with no overlap whatsoever xyz"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kept = sorted(r["doc_id"] for r in dedup_near(df, jaccard_threshold=0.5).collect())
    assert kept == [1, 3]


def test_ngram_jaccard_identical_and_disjoint(spark):
    df = spark.createDataFrame(
        [("abcabc", "abcabc"), ("abcdef", "uvwxyz")], "text_a string, text_b string"
    )
    got = [r["jaccard"] for r in ngram_jaccard(df, n=3).collect()]
    assert got[0] == 1.0
    assert got[1] == 0.0


def test_simhash_near_vs_far(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    df = spark.createDataFrame(
        [(1, base), (2, base.replace("quick", "quikc")), (3, "zzz qqq " * 12)],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r["sh"] for r in df.select("doc_id", simhash64("text").alias("sh")).collect()}

    def hdist(x, y):
        return bin((x ^ y) & ((1 << 64) - 1)).count("1")

    assert hdist(rows[1], rows[2]) < hdist(rows[1], rows[3])
    assert hdist(rows[1], rows[2]) <= 12


def test_embedding_near_duplicates(spark):
    rng = np.random.default_rng(3)
    v1 = rng.normal(size=16)
    v2 = v1 + rng.normal(scale=0.01, size=16)  # near dup
    v3 = rng.normal(size=16)
    rows = [
        (1, [float(x) for x in v1]),
        (2, [float(x) for x in v2]),
        (3, [float(x) for x in v3]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_near_duplicates(df, n_planes=6).collect()}
    assert pairs == {(1, 2)}


def test_cosine_expr_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0]), ([1.0, 2.0], [2.0, 4.0])],
        "a array<float>, b array<float>",
    )
    got = [r["c"] for r in df.select(cosine_expr("a", "b").alias("c")).collect()]
    assert abs(got[0]) < 1e-9
    assert abs(got[1] - 1.0) < 1e-9
    assert abs(got[2] - 1.0) < 1e-9


def test_brute_force_topk_matches_numpy(spark, embeddings):
    emb = embeddings.limit(200).collect()
    queries = spark.createDataFrame(
        [(int(r["vec_id"]), r["embedding"]) for r in emb[:3]],
        "query_id bigint, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [(int(r["vec_id"]), r["embedding"]) for r in emb],
        "vec_id bigint, embedding array<float>",
    )
    got = brute_force_topk(corpus, queries, k=5).collect()
    mat = np.array([r["embedding"] for r in emb])
    ids = np.array([r["vec_id"] for r in emb])
    norms = np.linalg.norm(mat, axis=1)
    for qi in range(3):
        cos = mat @ mat[qi] / (norms * norms[qi])
        order = np.lexsort((ids, -cos))[:5]
        want = list(ids[order])
        mine = [r["vec_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == ids[qi]]
        assert mine == want


def test_lsh_topk_recall(spark, embeddings):
    emb = embeddings.limit(300).collect()
    corpus = spark.createDataFrame(
        [(int(r["vec_id"]), r["embedding"]) for r in emb],
        "vec_id bigint, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(int(r["vec_id"]), r["embedding"]) for r in emb[:5]],
        "query_id bigint, embedding array<float>",
    )
    exact = brute_force_topk(corpus, queries, k=3).collect()
    approx = lsh_topk(corpus, queries, k=3, n_planes=4, n_tables=8).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # 64-dim random vectors: sign-LSH recall is probabilistic; with 4
    # planes / 8 tables the collision floor is high — require majority
    assert recall >= 0.5, recall
    # every query must at least find itself
    for q in [r["query_id"] for r in queries.collect()]:
        assert (q, q) in approx_set


def test_token_count_and_quality(spark):
    df = spark.createDataFrame(
        [("hello world foo",), ("a b",), ("",), ("!!! ??? ...",)], "text string"
    )
    got = [r["n"] for r in df.select(token_count("text", "whitespace").alias("n")).collect()]
    assert got == [3, 2, 0, 3]
    q = quality_features(df).collect()
    assert q[0]["quality_score"] > q[3]["quality_score"]  # prose beats punct soup


def test_lang_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog went to the park for a walk",),
            ("der hund und die katze sind nicht auf der wiese",),
            ("le chat et les chiens ne sont pas pour une promenade",),
            ("xqz vbn mlk",),
        ],
        "text string",
    )
    got = [r["l"] for r in df.select(lang_id("text").alias("l")).collect()]
    assert got == ["en", "de", "fr", "und"]


def test_fingerprint64_order_sensitive(spark):
    df = spark.createDataFrame(
        [("abcdefghij klmnop",), ("klmnop abcdefghij",)], "text string"
    )
    got = [r["f"] for r in df.select(fingerprint64("text").alias("f")).collect()]
    assert got[0] != got[1]


def test_multimodal_features(spark):
    media = synth_media(spark, n=30)
    feats = extract_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert r["n_bytes"] > 0
        vec = r["feature"]
        assert len(vec) == 16
        assert abs(math.fsum(x * x for x in vec) - 1.0) < 1e-3  # unit norm


def test_multimodal_real_decoder():
    """Decodes a real PNG when Pillow is importable; otherwise the slot
    must raise NotImplementedError (documented stub behavior)."""
    from triple_accel_spark.operators.multimodal import (
        decode_image_real,
        image_feature_real,
    )

    try:
        import io

        from PIL import Image
    except ImportError:
        with pytest.raises(NotImplementedError):
            decode_image_real(b"\x89PNG")
        return
    buf = io.BytesIO()
    Image.new("RGB", (4, 3), (10, 20, 30)).save(buf, format="PNG")
    px = decode_image_real(buf.getvalue())
    assert px.shape == (3, 4, 3) and px[0, 0, 1] == 20
    vec = image_feature_real(buf.getvalue())
    assert vec.shape == (16,) and abs(float((vec * vec).sum()) - 1.0) < 1e-5
