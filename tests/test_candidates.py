"""Candidate generation (the ``operators/pairs.py`` core behind
``candidate_pairs`` and ``candidate_links``): degenerate inputs, the
soundness of the link's early length prune at its boundary, and the
keyword arguments the benchmark passes."""

from __future__ import annotations

import itertools
import math

import pytest
from pyspark.sql import functions as F

from triple_accel_spark.operators import dedup
from triple_accel_spark.operators.corpus import CleanseConfig
from triple_accel_spark.operators.linkage import LinkConfig, candidate_links
from triple_accel_spark.operators.pairs import candidate_pairs
from triple_accel_spark.operators.scoring import relative_k_col, score_pairs

SCHEMA = "id string, block_key string, text string"

DEGENERATE = {
    "empty": [],
    "single_record": [("a", "k", "ta")],
    "one_block": [(f"r{i:02d}", "k", f"t{i}") for i in range(30)],
    "null_block_keys": [
        ("a", None, "ta"), ("b", None, "tb"), ("c", "k", "tc"), ("d", "k", "td"),
        ("e", "j", "te"), ("a", "j", "ta"),
    ],
}


def _brute(rows, ordered_pairs: bool) -> set:
    """Every pair of ids sharing a non-NULL block key: unordered with
    ``a < b`` for the self-join, every ordered pair (``(x, x)`` too) for
    a link of one frame with itself."""
    blocks: dict = {}
    for rid, bk, _ in rows:
        if bk is not None:
            blocks.setdefault(bk, set()).add(rid)
    if ordered_pairs:
        return {p for ids in blocks.values() for p in itertools.product(ids, ids)}
    return {
        tuple(sorted(p))
        for ids in blocks.values() for p in itertools.combinations(ids, 2)
    }


@pytest.mark.parametrize("case", sorted(DEGENERATE))
@pytest.mark.parametrize("entry", ["pairs", "links"])
def test_degenerate_inputs(spark, entry, case):
    """Empty input, one record, every record in one (salted) block and
    NULL block keys. Links run one frame against itself, so the ids
    overlap completely: every ordered pair must come back, ``(x, x)``
    included — the self-join's ``id_l < id_r`` must never reach a link."""
    rows = DEGENERATE[case]
    df = spark.createDataFrame(rows, SCHEMA)
    salt = dict(salt_threshold=4, salt_shards=4)
    if entry == "pairs":
        out = candidate_pairs(df, id_col="id", payload_cols=("text",), **salt)
        cols = ["id_a", "id_b", "text_a", "text_b"]
    else:
        out = candidate_links(df, df, id_col="id", payload_cols=("text",), **salt)
        cols = ["id_l", "id_r", "text_l", "text_r"]
    try:
        assert out.columns == cols
        got = out.collect()
        assert {(r[0], r[1]) for r in got} == _brute(rows, entry == "links")
        assert len(got) == len({(r[0], r[1]) for r in got})
        texts = {rid: t for rid, _, t in rows}
        assert all(r[2] == texts[r[0]] and r[3] == texts[r[1]] for r in got)
    finally:
        for fr in out._persisted_frames:
            fr.unpersist()


@pytest.mark.parametrize("char", ["x", "é"], ids=["ascii", "multibyte"])
def test_link_length_prune_is_sound_at_its_boundary(spark, char):
    """``prune_threshold`` drops a link before the dedupe iff its length
    gap exceeds the per-pair budget ``unit_k`` that scoring's
    ``length_prefilter(relative_k_col(t))`` applies. A pair whose gap is
    exactly ``unit_k`` survives, one of ``unit_k + 1`` does not, and
    scoring the pruned candidates gives the same rows as scoring the
    unpruned ones. Lengths are characters, not UTF-8 bytes."""
    t, n = 0.8, 50
    unit_k = math.ceil((1.0 - t) * n)  # Levenshtein: gap cost 1, no start gap
    # the gap is made of ``char``: in UTF-8 a multibyte gap is wider in
    # bytes than the budget, in characters it is not
    text = "x" * (n - unit_k - 1) + char * (unit_k + 1)
    left = [(1, "k", text), (2, "k", "y" * n)]
    right = [
        (10, "k", text[: n - unit_k]),  # gap == unit_k: kept, sim == t
        (11, "k", text[: n - unit_k - 1]),  # gap == unit_k + 1: pruned
        (12, "k", text[: n - 1]),
    ]
    bl = spark.createDataFrame(left, "id long, block_key string, text string")
    br = spark.createDataFrame(right, "id long, block_key string, text string")
    pruned = candidate_links(bl, br, prune_threshold=t, prune_text_col="text")
    unpruned = candidate_links(bl, br)
    k = relative_k_col(t, "text_l", "text_r")

    def scored(pairs):
        rows = score_pairs(pairs, "text_l", "text_r", k=k).collect()
        return sorted((r.id_l, r.id_r, r.dist, r.sim) for r in rows)

    try:
        ids = {(r.id_l, r.id_r) for r in pruned.collect()}
        assert (1, 10) in ids
        assert (1, 11) not in ids and (2, 11) not in ids
        assert {(1, 11), (2, 11)} <= {(r.id_l, r.id_r) for r in unpruned.collect()}
        assert scored(pruned) == scored(unpruned)
        if char == "x":
            assert (1, 10, unit_k, t) in scored(pruned)
    finally:
        for fr in [*pruned._persisted_frames, *unpruned._persisted_frames]:
            fr.unpersist()


def test_benchmark_call_sites(spark, tmp_path):
    """``perfbench/layers.py`` builds its configs as
    ``perfbench/workloads.py`` does, reads the attributes below, calls
    both entry points with exactly these keyword arguments, releases
    ``_persisted_frames`` afterwards and mirrors dedup's local-CC
    threshold; the benchmark is not part of this suite, so this guards
    its call sites."""
    from perfbench.layers import DEDUP_CC_LOCAL_THRESHOLD
    from perfbench.workloads import CLEANSE_CFG, LINK_SIM, ErResolve

    cfg = ErResolve(0).config(str(tmp_path))
    lcfg = LinkConfig(sim_threshold=LINK_SIM)
    ccfg = CleanseConfig(**CLEANSE_CFG)
    for c, attrs in (
        (cfg, "metrics_dir run_id sim_threshold q num_hashes num_bands "
              "max_block_size salt_threshold salt_shards costs checkpoint_dir "
              "cc_max_iter cc_checkpoint_interval"),
        (lcfg, "q num_hashes num_bands max_block_pairs salt_threshold "
               "salt_shards sim_threshold costs"),
        (ccfg, "min_tokens quality_threshold q num_hashes num_bands "
               "jaccard_threshold"),
    ):
        for attr in attrs.split():
            getattr(c, attr)
    assert dedup.CC_LOCAL_THRESHOLD == DEDUP_CC_LOCAL_THRESHOLD

    docs = spark.createDataFrame(
        [("c1", "k", "alpha beta"), ("c2", "k", "alpha beta!"), ("c3", "j", "x")],
        "conv_id string, block_key string, doc string",
    )
    cand = candidate_pairs(
        docs, id_col="conv_id", block_col="block_key", payload_cols=("doc",),
        max_block_size=cfg.max_block_size, salt_threshold=cfg.salt_threshold,
        salt_shards=cfg.salt_shards,
    )
    assert [(r.id_a, r.id_b) for r in cand.collect()] == [("c1", "c2")]

    left = spark.createDataFrame([(1, "alpha beta")], "id long, text string")
    right = spark.createDataFrame([(2, "alpha beta!")], "id long, text string")
    bl = left.withColumn("block_key", F.lit("k"))
    br = right.withColumn("block_key", F.lit("k"))
    links = candidate_links(
        bl, br, id_col="id", block_col="block_key", payload_cols=("text",),
        payload_left=left, payload_right=right,
        max_block_pairs=lcfg.max_block_pairs, salt_threshold=lcfg.salt_threshold,
        salt_shards=lcfg.salt_shards, prune_threshold=lcfg.sim_threshold,
        prune_text_col="text", prune_costs=lcfg.costs,
    )
    assert [(r.id_l, r.id_r) for r in links.collect()] == [(1, 2)]

    for out in (cand, links):
        frames = out._persisted_frames
        assert frames and all(fr.is_cached for fr in frames)
        for fr in frames:
            fr.unpersist()
