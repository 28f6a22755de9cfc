"""Round-2 additions: array-free LSH verification, single-pass SimHash,
per-pair k columns, CC checkpoint intervals, batched hamming search."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from triple_accel_spark.functions import edit_distance
from triple_accel_spark.kernels.hamming import hamming_search_batch
from triple_accel_spark.operators.clustering import connected_components
from triple_accel_spark.operators.dedup import (
    minhash_lsh_duplicates,
    ngram_jaccard,
    simhash64,
    with_simhash,
)

pytestmark = pytest.mark.usefixtures("spark")


def _corpus(spark, n=40):
    """Deterministic corpus with planted near-duplicates."""
    rng = np.random.default_rng(7)
    alphabet = np.frombuffer(b"abcdefgh ", dtype=np.uint8)
    rows = []
    for i in range(n):
        base = bytes(rng.choice(alphabet, int(rng.integers(40, 120)))).decode()
        rows.append((i, base))
        if i % 3 == 0:  # 1-char mutation -> high-jaccard pair
            rows.append((i + 1000, base[:10] + "Z" + base[11:]))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_minhash_lsh_matches_exact_jaccard(spark):
    """Array-free LSH verification == brute-force exact q-gram Jaccard
    (edges AND values) on a planted corpus with high band recall."""
    df = _corpus(spark)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_duplicates(
            df, q=5, num_hashes=32, num_bands=16, jaccard_threshold=0.8
        ).collect()
    }
    a = df.select(F.col("doc_id").alias("id_a"),
                  F.lower(F.regexp_replace("text", r"\s+", " ")).alias("ta"))
    b = df.select(F.col("doc_id").alias("id_b"),
                  F.lower(F.regexp_replace("text", r"\s+", " ")).alias("tb"))
    allp = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    exact = ngram_jaccard(allp, "ta", "tb", n=5).where(F.col("jaccard") >= 0.8)
    want = {(r.id_a, r.id_b): r.jaccard for r in exact.collect()}
    assert set(got) == set(want)
    for p in want:
        assert abs(got[p] - want[p]) < 1e-12


def test_with_simhash_equals_column_form(spark):
    rows = [(1, "the quick brown fox jumps over the lazy dog"),
            (2, "sphinx of black quartz judge my vow"),
            (3, "ab"), (4, "")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    col_form = {r.doc_id: r.sh
                for r in df.select("doc_id", simhash64("text").alias("sh")).collect()}
    op_form = {r.doc_id: r.simhash for r in with_simhash(df).collect()}
    assert op_form == col_form


def test_edit_distance_per_pair_k_column(spark):
    rows = [("kitten", "sitting", 3), ("kitten", "sitting", 2),
            ("abc", "abc", 0), ("abc", "xyz", 2), ("abc", "xyz", 3),
            (None, "x", 5), ("x", "y", None)]
    df = spark.createDataFrame(rows, "a string, b string, k int")
    got = df.select(
        edit_distance("a", "b", k=F.col("k")).alias("d")
    ).collect()
    assert [r.d for r in got] == [3, None, 0, None, 3, None, None]


@pytest.mark.parametrize("tau", [0.88, 0.94])
def test_pipeline_per_pair_k_is_lossless(spark, tau):
    """The per-pair k budget drops no match: ``resolve_entities``' match
    set equals unbudgeted scoring (``k=None``) of the same candidates
    filtered at the same threshold. At 0.88 every candidate of this
    corpus matches (the least similar at 0.938); 0.94 puts matches
    within 0.001 of the threshold, one of them exactly on it."""
    from triple_accel_spark.operators.blocking import with_minhash_blocks
    from triple_accel_spark.operators.pairs import candidate_pairs
    from triple_accel_spark.operators.scoring import score_pairs
    from triple_accel_spark.pipeline import ResolveConfig, resolve_entities
    from triple_accel_spark.sources.transcripts import generate_transcripts

    tdf, _ = generate_transcripts(n_entities=60, seed=11)
    t = spark.createDataFrame(tdf)
    cfg = ResolveConfig(sim_threshold=tau)
    with resolve_entities(t, cfg) as res:
        got = {(r.id_a, r.id_b) for r in res.matches.collect()}
        blocked = with_minhash_blocks(
            res.docs, "doc", q=cfg.q, num_hashes=cfg.num_hashes,
            num_bands=cfg.num_bands,
        )
        cand = candidate_pairs(
            blocked, id_col="conv_id", block_col="block_key",
            payload_cols=("doc",), max_block_size=cfg.max_block_size,
            salt_threshold=cfg.salt_threshold, salt_shards=cfg.salt_shards,
        )
        full = score_pairs(cand, "doc_a", "doc_b", k=None, costs=cfg.costs,
                           sim_threshold=cfg.sim_threshold)
        want = {(r.id_a, r.id_b) for r in full.collect()}
        for fr in cand._persisted_frames:
            fr.unpersist()
    assert got
    assert got == want


@pytest.mark.parametrize("a, b, dist", [
    ("abcdefghij", "abcdefghiX", 1),
    ("abcdefghijklmnopqrst", "abcdeXghijklmnoXqrst", 2),
])
def test_relative_k_col_keeps_pair_at_threshold(spark, a, b, dist):
    """Boundary soundness of the per-pair budget: a pair whose similarity
    is exactly the threshold survives. ``(1 - 0.9) * len`` rounds to
    just below the integer distance in doubles, so only ``ceil`` keeps
    the pair's band wide enough."""
    from triple_accel_spark.operators.scoring import relative_k_col, score_pairs

    tau = 0.9
    pairs = spark.createDataFrame([(a, b)], "a string, b string")
    got = score_pairs(pairs, "a", "b", k=relative_k_col(tau, "a", "b"),
                      sim_threshold=tau).collect()
    assert [(r.dist, r.sim) for r in got] == [(dist, pytest.approx(tau))]


def test_cc_checkpoint_interval_invariant(cc_graph):
    edges = cc_graph("bigint_ladder")
    lab1 = {(r.id, r.cluster_id)
            for r in connected_components(edges, checkpoint_interval=1).collect()}
    lab3 = {(r.id, r.cluster_id)
            for r in connected_components(edges, checkpoint_interval=3).collect()}
    assert lab1 == lab3


def test_hamming_search_batch_vectors():
    # reference semantics: default k = ceil(n/2), best keeps all
    # min-cost positions, all keeps everything <= k
    res = hamming_search_batch(["abc"], ["xxabcxxabc"], k=0, search_type="all")
    assert res == [[(2, 5, 0), (7, 10, 0)]]
    res = hamming_search_batch(["abc"], ["xxabcxxabc"], search_type="best")
    assert res == [[(2, 5, 0), (7, 10, 0)]]
    # ties at min cost, mixed lengths in one batch, null, too-long needle
    res = hamming_search_batch(
        ["ab", "abcd", None, "longneedle", ""],
        ["abab", "zzzz", "x", "short", "xy"],
        search_type="best",
    )
    assert res[0] == [(0, 2, 0), (2, 4, 0)]
    assert res[1] == []  # dmin=4 > default k=2
    assert res[2] is None
    assert res[3] == []
    assert res[4] == [(0, 0, 0), (1, 1, 0), (2, 2, 0)]
    # all mode with explicit k across different needle lengths
    res = hamming_search_batch(
        ["aa", "bbb"], ["aaxa", "xbbb"], k=1, search_type="all"
    )
    assert res[0] == [(0, 2, 0), (1, 3, 1), (2, 4, 1)]
    assert res[1] == [(0, 3, 1), (1, 4, 0)]


def test_all_pairs_topk_recall(spark):
    """LSH all-pairs top-k must recover >= 0.9 of the exact top-3
    neighbor edges on the testdata embeddings."""
    from triple_accel_spark.operators.similarity import (
        brute_force_all_pairs_topk,
        lsh_all_pairs_topk,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .where(F.col("vec_id") < 200)
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
        .cache()
    )
    exact = {(r.query_id, r.vec_id)
             for r in brute_force_all_pairs_topk(emb, k=3).collect()}
    approx = {(r.query_id, r.vec_id)
              for r in lsh_all_pairs_topk(emb, k=3, n_planes=3, n_tables=16).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


def test_local_cc_equals_distributed(cc_graph):
    from triple_accel_spark.operators.clustering import (
        local_connected_components,
    )

    edges = cc_graph("self_loops_and_reverse")
    dist = {(r.id, r.cluster_id) for r in connected_components(edges).collect()}
    loc = {(r.id, r.cluster_id)
           for r in local_connected_components(edges).collect()}
    assert loc == dist


def test_minhash_block_paths_null_policy(spark):
    """Batch and expression blocking paths agree on NULL text: such
    rows produce no block rows in either (documented policy)."""
    from triple_accel_spark.operators.blocking import (
        with_minhash_blocks,
        with_minhash_blocks_expr,
    )

    df = spark.createDataFrame(
        [("a", "the quick brown fox"), ("b", None), ("c", "jumps over the dog")],
        "conv_id string, doc string",
    )
    batch = with_minhash_blocks(df).select("conv_id", "block_key").collect()
    expr = with_minhash_blocks_expr(df).select("conv_id", "block_key").collect()
    assert {(r.conv_id, r.block_key) for r in batch} == {
        (r.conv_id, r.block_key) for r in expr
    }
    assert not any(r.conv_id == "b" for r in batch)


def test_search_fast_path_equals_dp():
    """The Myers semi-global prescan + subset DP must be bit-identical
    to the pure DP across modes, cutoffs, planted and random rows
    (needles 1..199 chars exercise the 1..4-word block recurrence)."""
    from triple_accel_spark.kernels.costs import LEVENSHTEIN_COSTS
    from triple_accel_spark.kernels.encode import encode_batch
    from triple_accel_spark.kernels.search import _lev_search_dp, lev_search_batch

    rng = np.random.default_rng(0)
    al = np.frombuffer(b"abcd", dtype=np.uint8)

    def mk(n):
        return rng.choice(al, n).astype(np.uint8).tobytes().decode()

    needles, hays = [], []
    for i in range(300):
        m = int(rng.integers(1, 200))
        h = int(rng.integers(0, 240))
        nd, hy = mk(m), mk(h)
        if i % 3 == 0 and h > m:
            p = int(rng.integers(0, h - m))
            hy = hy[:p] + nd + hy[p + m:]
        needles.append(nd)
        hays.append(hy)
    needles += [None, "ab", ""]
    hays += ["abc", None, "xyz"]
    for st in ("best", "all"):
        for k in (None, 0, 2):
            got = lev_search_batch(needles, hays, k=k, search_type=st)
            nm, nl, _ = encode_batch(needles)
            hm, hl, _ = encode_batch(hays)
            valid = np.array(
                [a is not None and b is not None for a, b in zip(needles, hays)]
            )
            ka = (
                ((nl >> 1) + (nl & 1)).astype(np.int64)
                if k is None
                else np.full(len(needles), k, dtype=np.int64)
            )
            want = _lev_search_dp(
                nm, nl, hm, hl, valid, ka, st, LEVENSHTEIN_COSTS, False
            )
            assert got == want, (st, k)


def test_topk_per_key_equals_single_window(spark):
    """Two-stage salted top-k == plain single-window top-k, including
    duplicate-score tie-breaks."""
    from pyspark.sql import Window

    from triple_accel_spark.operators.similarity import topk_per_key

    rows = [(q, i, float((q * 7 + i * 3) % 5))  # many score ties
            for q in range(6) for i in range(200)]
    df = spark.createDataFrame(rows, "query_id int, vec_id int, cosine double")
    got = {(r.query_id, r.vec_id, r.rank)
           for r in topk_per_key(df, "query_id", 7).collect()}
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    want = {(r.query_id, r.vec_id, r.rank)
            for r in df.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 7).collect()}
    assert got == want
