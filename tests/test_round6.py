"""Round-6 optimization invariants: plan shapes the round's measured
wins depend on (see OPTIMIZATION_r06.md for the A/B evidence)."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from triple_accel_spark.operators.linkage import candidate_links
from triple_accel_spark.operators.pairs import candidate_pairs
from triple_accel_spark.operators.similarity import lsh_all_pairs_topk


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _pinned_pairs(spark):
    blocked = spark.range(40).select(
        F.col("id").alias("rid"),
        (F.col("id") % 5).alias("bk"),
        F.concat(F.lit("doc"), F.col("id").cast("string")).alias("doc"),
    )
    return candidate_pairs(
        blocked, id_col="rid", block_col="bk", payload_cols=("doc",),
        max_block_size=100,
    )


def _pinned_links(spark):
    bl = spark.range(20).select(
        F.col("id").alias("id"), (F.col("id") % 4).alias("block_key"),
        F.lit("x").alias("text"),
    )
    br = spark.range(20).select(
        (F.col("id") + 100).alias("id"), (F.col("id") % 4).alias("block_key"),
        F.lit("x").alias("text"),
    )
    return candidate_links(bl, br, id_col="id", block_col="block_key",
                           payload_cols=("text",))


@pytest.mark.parametrize("build,a,b", [
    (_pinned_pairs, "id_a", "id_b"), (_pinned_links, "id_l", "id_r"),
], ids=["pairs", "links"])
def test_dedupe_exchange_is_pinned(spark, build, a, b):
    """The cross-band dedupe's exchange must be the user-specified
    keyed repartition (exempt from AQE byte-based coalescing, which
    collapsed the 16 B/row ids-only exchange to 1-2 partitions and
    starved the downstream payload attach + scoring kernel) — and it
    must REPLACE the distinct's implicit exchange, not stack under it."""
    cp = build(spark)
    try:
        plan = _plan(cp)
        pinned = re.findall(
            rf"hashpartitioning\({a}[^)]*{b}[^)]*\), REPARTITION_BY_NUM", plan
        )
        implicit = re.findall(
            rf"hashpartitioning\({a}[^)]*{b}[^)]*\), ENSURE_REQUIREMENTS", plan
        )
        assert len(pinned) == 1, f"expected one pinned dedupe exchange:\n{plan}"
        assert not implicit, (
            "the keyed repartition must satisfy the distinct's "
            f"distribution (no second pair exchange):\n{plan}"
        )
    finally:
        for fr in cp._persisted_frames:
            fr.unpersist()


def test_allpairs_expands_without_union(spark):
    """The bidirectional neighbor expansion must be ONE explode over
    the computed cosine attribute — the old two-branch union duplicated
    the candidate-join + cosine-UDF subtree (the nondeterministic UDF
    blocks Catalyst from collapsing the copies), executing the
    distinct, payload attach and Arrow cosine twice per corpus pass."""
    corpus = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(i) for i in range(4)]).alias("embedding"),
    )
    ap = lsh_all_pairs_topk(corpus, k=3, n_planes=3, n_tables=2)
    try:
        plan = _plan(ap)
        assert "Union" not in plan, f"union-free expansion expected:\n{plan}"
        assert plan.count("Generate explode") >= 1
    finally:
        for fr in getattr(ap, "_persisted_frames", []):
            fr.unpersist()


def _union_form_allpairs(corpus, k, n_planes, n_tables, seed=42):
    """The pre-rewrite ``lsh_all_pairs_topk`` body: the same arrow
    bucketing and candidate join, but both directions as a union of two
    selects over the scored candidates."""
    from triple_accel_spark.operators.similarity import (
        cosine_arrow,
        multitable_buckets_arrow,
        topk_per_key,
    )

    base = corpus.select(F.col("vec_id").alias("rid"), F.col("embedding").alias("vec"))
    blocked = base.select(
        "rid", "vec", F.posexplode(
            multitable_buckets_arrow(base, F.col("vec"), n_planes, n_tables, seed)
        ).alias("_t", "_b")
    ).select("rid", "vec", F.xxhash64(F.col("_t"), F.col("_b")).alias("block_key"))
    pairs = candidate_pairs(
        blocked, id_col="rid", block_col="block_key", payload_cols=("vec",),
        max_block_size=1000,
    )
    scored = pairs.withColumn("cosine", cosine_arrow("vec_a", "vec_b"))
    both = scored.select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("vec_id"), "cosine"
    ).union(scored.select(
        F.col("id_b").alias("query_id"), F.col("id_a").alias("vec_id"), "cosine"
    ))
    out = topk_per_key(both, "query_id", k, tiebreak_col="vec_id")
    out._persisted_frames = getattr(pairs, "_persisted_frames", [])
    return out


def test_allpairs_explode_rows_match_union_form(spark):
    """Equivalence of the rewrite: the exploded both-direction frame
    must contain exactly the rows the union form produced (every
    unordered candidate pair once in each direction), so ranks and the
    ann_allpairs oracle are unchanged."""
    corpus = spark.range(30).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1)).cast("double") for i in range(3)]).alias(
            "embedding"
        ),
    )
    out = lsh_all_pairs_topk(corpus, k=50, n_planes=2, n_tables=2,
                             max_block_size=1000)
    ref = _union_form_allpairs(corpus, k=50, n_planes=2, n_tables=2)

    def rows(df):
        return {
            (r["query_id"], r["vec_id"], round(r["cosine"], 9))
            for r in df.select("query_id", "vec_id", "cosine").collect()
        }

    try:
        got = rows(out)
        # with k >= candidate count, top-k keeps every candidate: the
        # result must be direction-symmetric and self-pair-free
        assert got, "expected candidates on a dense 2-plane bucketing"
        assert got == rows(ref)
        assert all((b, a, c) in got for (a, b, c) in got)
        assert all(a != b for (a, b, _) in got)
    finally:
        for fr in [*getattr(out, "_persisted_frames", []), *ref._persisted_frames]:
            fr.unpersist()
