"""Two-table record linkage (operators/linkage.py): candidate
generation exactness under salting and caps, end-to-end assignment
accuracy, and the persist lifecycle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from triple_accel_spark.operators.blocking import with_prefix_blocks
from triple_accel_spark.operators.linkage import (
    LinkConfig,
    candidate_links,
    link_records,
)


def _corpus(spark, n=60, hot_block=True):
    """Left table of n synthetic records; text determines a 4-char
    prefix block. When hot_block, half the records share ONE block to
    exercise salting."""
    rows = []
    for i in range(n):
        blk = "AAAA" if (hot_block and i % 2 == 0) else f"B{i % 7:03d}"
        rows.append((i, f"{blk} record number {i:04d} payload {'x' * (i % 5)}"))
    return spark.createDataFrame(rows, "id long, text string")


def _naive_links(spark, left, right, prefix_len=4):
    la = with_prefix_blocks(left, "text", prefix_len=prefix_len).select(
        F.col("id").alias("id_l"), F.col("block_key").alias("bk")
    )
    rb = with_prefix_blocks(right, "text", prefix_len=prefix_len).select(
        F.col("id").alias("id_r"), F.col("block_key").alias("bk")
    )
    return {
        (r.id_l, r.id_r)
        for r in la.join(rb, "bk").select("id_l", "id_r").distinct().collect()
    }


@pytest.mark.parametrize("salt_threshold,salt_shards", [(10**9, 8), (1, 4)])
def test_candidate_links_exact(spark, salt_threshold, salt_shards):
    # salted and unsalted plans must both produce exactly the blockwise
    # cross product, each pair once
    left = _corpus(spark, 60)
    right = _corpus(spark, 40).select(
        (F.col("id") + 1000).alias("id"), "text"
    )
    bl = with_prefix_blocks(left, "text", prefix_len=4)
    br = with_prefix_blocks(right, "text", prefix_len=4)
    got = candidate_links(
        bl, br, id_col="id", payload_cols=("text",),
        max_block_pairs=None,
        salt_threshold=salt_threshold, salt_shards=salt_shards,
    )
    pairs = {(r.id_l, r.id_r) for r in got.select("id_l", "id_r").collect()}
    want = _naive_links(
        spark, left, right.select("id", "text")
    )
    assert pairs == want
    assert len(pairs) > 0

    # salting boundary on |L|·|R|: the "at" block (2 x 3) is exactly
    # salt_threshold = 6 and stays unsalted, the "over" block (1 x 7)
    # is salted; both give the full cross product
    lrows = [(1, "at", "x"), (2, "at", "x"), (3, "over", "x")]
    rrows = [(10 + i, "at", "y") for i in range(3)]
    rrows += [(20 + i, "over", "y") for i in range(7)]
    schema = "id long, block_key string, text string"
    got = candidate_links(
        spark.createDataFrame(lrows, schema),
        spark.createDataFrame(rrows, schema), id_col="id",
        payload_cols=("text",), max_block_pairs=None,
        salt_threshold=6, salt_shards=salt_shards,
    )
    pairs = {(r.id_l, r.id_r) for r in got.collect()}
    assert pairs == {
        (a, b) for a, ka, _ in lrows for b, kb, _ in rrows if ka == kb
    }


def test_candidate_links_payloads_and_cap(spark):
    # left/right each get an "at cap" block (5 x 10 = 50 candidates,
    # kept) and an "over cap" block (3 x 17 = 51, dropped)
    def edge_blocks(offset, n_at, n_over):
        return spark.createDataFrame(
            [(offset + i, "CCCC at cap") for i in range(n_at)]
            + [(offset + 50 + i, "DDDD over cap") for i in range(n_over)],
            "id long, text string",
        )

    left = _corpus(spark, 40).unionByName(edge_blocks(900, 5, 3))
    right = _corpus(spark, 40).select(
        (F.col("id") + 500).alias("id"), "text"
    ).unionByName(edge_blocks(1900, 10, 17))
    bl = with_prefix_blocks(left, "text", prefix_len=4)
    br = with_prefix_blocks(right, "text", prefix_len=4)
    # cap low enough to drop the hot AAAA block (20x20=400 candidates)
    # but keep the 7 cold B-blocks
    capped = candidate_links(
        bl, br, id_col="id", payload_cols=("text",), max_block_pairs=50
    )
    rows = capped.collect()
    assert rows, "cold blocks must survive the cap"
    left_texts = {r.id: r.text for r in left.collect()}
    right_texts = {r.id: r.text for r in right.collect()}
    for r in rows:
        assert r.text_l == left_texts[r.id_l]
        assert r.text_r == right_texts[r.id_r]
        assert not r.text_l.startswith("AAAA"), "hot block should be capped out"
        assert not r.text_l.startswith("DDDD"), "51 > max_block_pairs"
    at_cap = {(r.id_l, r.id_r) for r in rows if r.text_l.startswith("CCCC")}
    assert len(at_cap) == 50, "|L|·|R| == max_block_pairs must be kept"


def test_link_records_assignment(spark):
    # right = perturbed copy of each left record (one char substituted
    # past the blocking prefix); best-per-right must recover the
    # original id for every record
    left = _corpus(spark, 50, hot_block=False)
    right = left.select(
        (F.col("id") + 10_000).alias("id"),
        F.concat(
            F.substring("text", 1, 12), F.lit("#"), F.expr("substring(text, 14)")
        ).alias("text"),
    )
    res = link_records(
        left, right,
        cfg=LinkConfig(
            blocking="prefix", prefix_len=4, sim_threshold=0.8,
        ),
    )
    best = {r.id_r: r.id_l for r in res.best.collect()}
    assert len(best) == 50
    for id_r, id_l in best.items():
        assert id_r - 10_000 == id_l
    assert res.metrics["n_matches"] >= 50
    assert res.metrics["n_pairs_scored"] >= res.metrics["n_matches"]
    res.unpersist()


def test_link_records_best_deterministic_tiebreak(spark):
    # two left records at identical distance from one right record:
    # the smaller left id must win, every run
    left = spark.createDataFrame(
        [(7, "blockkey same text A"), (3, "blockkey same text B")],
        "id long, text string",
    )
    right = spark.createDataFrame(
        [(100, "blockkey same text C")], "id long, text string"
    )
    for _ in range(3):
        res = link_records(
            left, right,
            cfg=LinkConfig(
                blocking="prefix", prefix_len=8, sim_threshold=0.5,
            ),
        )
        rows = res.best.collect()
        assert len(rows) == 1
        assert rows[0].id_l == 3
        res.unpersist()


def test_link_records_minhash_blocking(spark):
    # the DEFAULT (minhash) blocking path must work on tables whose id
    # column is not the pipeline's "conv_id" (regression: id_col was
    # not forwarded to with_minhash_blocks)
    left = _corpus(spark, 30, hot_block=False)
    right = left.select(
        (F.col("id") + 10_000).alias("id"),
        F.concat(
            F.substring("text", 1, 12), F.lit("#"), F.expr("substring(text, 14)")
        ).alias("text"),
    )
    res = link_records(
        left, right, cfg=LinkConfig(sim_threshold=0.8, q=3, num_bands=16)
    )
    best = {r.id_r: r.id_l for r in res.best.collect()}
    assert best, "minhash blocking found no links"
    for id_r, id_l in best.items():
        assert id_r - 10_000 == id_l
    res.unpersist()


def test_assign_to_clusters(spark):
    from triple_accel_spark.operators.linkage import assign_to_clusters

    # two settled clusters (7,8 together; 9 singleton)
    clustered = spark.createDataFrame(
        [
            (7, "cluster one canonical text about apples", 7),
            (8, "cluster one canonical text about apple!", 7),
            (9, "cluster two is about zebras entirely!!!", 9),
        ],
        "id long, text string, cluster_id long",
    )
    new = spark.createDataFrame(
        [
            # identical to member 8 (strictly closer than 7) -> must
            # match 8 and inherit cluster 7
            (100, "cluster one canonical text about apple!"),
            # near member 9 -> cluster 9
            (101, "cluster two is about zebras entirely???"),
            # matches nothing -> singleton labeled with its own id
            (102, "qqqq wwww eeee rrrr tttt yyyy uuuu iiii"),
        ],
        "id long, text string",
    )
    out = assign_to_clusters(
        clustered, new,
        cfg=LinkConfig(blocking="prefix", prefix_len=8, sim_threshold=0.8),
    )
    rows = {r.id: r for r in out.collect()}
    assert rows[100].cluster_id == 7 and not rows[100].is_new
    assert rows[100].matched_id == 8
    assert rows[101].cluster_id == 9 and not rows[101].is_new
    assert rows[102].cluster_id == 102 and rows[102].is_new
    assert rows[102].matched_id is None and rows[102].sim is None
    for fr in getattr(out, "_persisted_frames", []):
        fr.unpersist()


def test_assign_matches_full_reresolution(spark):
    # the docstring's semantic claim: on a representative-shaped corpus
    # (each new record within threshold of exactly ONE canonical,
    # canonicals mutually far) incremental assignment equals running
    # the full block->pair->score->CC chain on the union
    from triple_accel_spark.operators.blocking import with_prefix_blocks
    from triple_accel_spark.operators.clustering import (
        attach_singletons,
        local_connected_components,
    )
    from triple_accel_spark.operators.linkage import assign_to_clusters
    from triple_accel_spark.operators.pairs import candidate_pairs
    from triple_accel_spark.operators.scoring import score_pairs

    tau = 0.85
    canon = [
        (i, f"K{i:03d} canonical entity record with stable payload {i:04d}")
        for i in range(20)
    ]
    clustered = spark.createDataFrame(
        [(i, t, i) for i, t in canon], "id long, text string, cluster_id long"
    )
    new = spark.createDataFrame(
        [
            (1000 + i, t[:20] + "#" + t[21:])  # 1 sub, within tau
            for i, t in canon
        ]
        + [(2000, "ZZZZ completely unrelated text that matches nothing")],
        "id long, text string",
    )
    got = assign_to_clusters(
        clustered, new,
        cfg=LinkConfig(blocking="prefix", prefix_len=4, sim_threshold=tau),
    )
    inc = {
        frozenset([r.id, r.cluster_id]) if not r.is_new else frozenset([r.id])
        for r in got.collect()
    }

    union = clustered.select("id", "text").union(new)
    blocked = with_prefix_blocks(union, "text", prefix_len=4)
    pairs = candidate_pairs(
        blocked, id_col="id", block_col="block_key", payload_cols=("text",),
        max_block_size=None,
    )
    scored = score_pairs(pairs, "text_a", "text_b", k=30, sim_threshold=tau)
    labels = local_connected_components(scored.select("id_a", "id_b"))
    clusters = attach_singletons(labels, union, "id")
    full = {}
    for r in clusters.collect():
        full.setdefault(r.cluster_id, set()).add(r.id)
    # compare only clusters containing a NEW record: the incremental
    # view labels new records; canonicals keep their clusters
    full_parts = {frozenset(v) for v in full.values() if v - set(range(20))}
    assert inc == full_parts
    for fr in getattr(got, "_persisted_frames", []):
        fr.unpersist()
    for fr in getattr(pairs, "_persisted_frames", []):
        fr.unpersist()


def test_blocking_quality(spark):
    from triple_accel_spark.operators.pairs import blocking_quality

    cand = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 31)], "id_a long, id_b long"
    )
    truth = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id_a long, id_b long"
    )
    row = blocking_quality(cand, truth, total_possible_pairs=30).collect()[0]
    assert row.n_candidates == 3
    assert row.n_truth == 3
    assert row.n_covered == 2
    assert abs(row.pair_completeness - 2 / 3) < 1e-12
    assert abs(row.reduction_ratio - (1 - 3 / 30)) < 1e-12


def test_link_plan_shape(spark):
    # the scale-critical plan properties: the cross-band pair dedupe is
    # an id-only distinct (no payload bytes on the quadratic edge) and
    # scoring is ONE ArrowEvalPython node
    import re

    left = _corpus(spark, 60)
    right = _corpus(spark, 40).select((F.col("id") + 1000).alias("id"), "text")
    res = link_records(
        left, right,
        cfg=LinkConfig(blocking="prefix", prefix_len=4, sim_threshold=0.8),
    )
    plan = res.pairs_scored._jdf.queryExecution().executedPlan().toString()
    # the cached InMemoryRelation prints its child plan alongside the
    # scan, so count DISTINCT nodes: a genuine double evaluation would
    # surface as a second node with a fresh result expression id
    nodes = set(re.findall(r"ArrowEvalPython \[[^\]]*\]", plan))
    assert len(nodes) == 1
    assert re.search(
        r"HashAggregate\(keys=\[id_l#\d+L?, id_r#\d+L?\], functions=\[\]", plan
    )
    assert not re.search(
        r"keys=\[id_l#\d+L?, id_r#\d+L?\], functions=\[\w*first", plan
    )
    res.unpersist()


def test_link_records_storage_flat(spark):
    left = _corpus(spark, 20, hot_block=False)
    right = left.select((F.col("id") + 100).alias("id"), "text")
    before = len([
        r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ])
    res = link_records(
        left, right,
        cfg=LinkConfig(blocking="prefix", prefix_len=4, sim_threshold=0.5),
    )
    res.matches.count()
    res.unpersist()
    after = len([
        r for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ])
    assert after <= before
