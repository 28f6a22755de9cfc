"""Plan-shape checks (the physical plans we rely on at 100 TB) and
reference-parity extras (codepoint adapter, lineage sink)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from triple_accel_spark.functions import edit_distance
from triple_accel_spark.kernels.reference import levenshtein as ref_levenshtein
from triple_accel_spark.operators.lineage import (
    commit_stage_metrics,
    partition_stats,
)
from triple_accel_spark.operators.scoring import score_pairs
from triple_accel_spark.operators.similarity import brute_force_topk


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scoring_plan_single_udf_eval_and_pushdown(spark, tmp_path):
    """The kernel must cross the Python boundary ONCE (Catalyst used to
    duplicate it across the pushed-down isnotnull filter), and the
    parquet scan must prune to exactly the joined/scored columns."""
    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "abcdefgh" * 4) for i in range(20)], "doc_id long, text string"
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("doc_a"))
    b = docs.select((F.col("doc_id") - 1).alias("id_a"), F.col("text").alias("doc_b"))
    scored = score_pairs(a.join(b, "id_a"), "doc_a", "doc_b", k=10)
    plan = _plan(scored)
    assert plan.count("ArrowEvalPython") == 1
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_length_prefilter_precedes_python_exchange(spark):
    a = spark.range(10).select(
        F.col("id").alias("id_a"),
        F.concat(F.lit("aaaa"), F.col("id").cast("string")).alias("doc_a"),
        F.concat(F.lit("bbbb"), F.col("id").cast("string")).alias("doc_b"),
    )
    scored = score_pairs(a, "doc_a", "doc_b", k=2)
    plan = _plan(scored)
    # the JVM-side length filter must appear below (after in text order)
    # the Arrow node — i.e. evaluated before rows reach Python
    assert plan.index("ArrowEvalPython") < plan.index("abs((length(")


def test_topk_broadcasts_query_side(spark):
    corpus = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(i) for i in range(4)]).alias("embedding"),
    )
    qs = corpus.limit(3).withColumnRenamed("vec_id", "query_id")
    plan = _plan(brute_force_topk(corpus, qs, k=5))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_unicode_codepoint_distance(spark):
    # per-codepoint semantics (reference levenstein_naive_str):
    # 'héllo' vs 'hello' is 1 edit per CHARACTER, 2 per UTF-8 byte
    df = spark.createDataFrame(
        [("héllo", "hello"), ("αβγδ", "αβγx"), ("same", "same")],
        "a string, b string",
    )
    got = df.select(
        edit_distance("a", "b").alias("bytes_d"),
        edit_distance("a", "b", unicode=True).alias("cp_d"),
    ).collect()
    assert [r["bytes_d"] for r in got] == [2, 2, 0]
    assert [r["cp_d"] for r in got] == [1, 1, 0]
    # parity with the scalar oracle on the translated (u8-symbol) pair
    from triple_accel_spark.kernels.encode import translate_batch

    am, al, bm, bl, ok = translate_batch(["héllo"], ["hello"])
    assert ok[0]
    d, _ = ref_levenshtein(am[0, : al[0]].tobytes(), bm[0, : bl[0]].tobytes())
    assert d == 1


def test_unicode_alphabet_overflow_is_null(spark):
    big = "".join(chr(0x4E00 + i) for i in range(300))
    df = spark.createDataFrame([(big, big[:-1])], "a string, b string")
    got = df.select(edit_distance("a", "b", unicode=True).alias("d")).collect()
    assert got[0]["d"] is None  # reference translate_str -> None


def test_partition_stats_census(spark):
    df = spark.range(1000).select(
        F.col("id"), F.lit("x" * 10).alias("payload")
    ).repartition(4)
    stats = partition_stats(df, "unit", size_col="payload", id_col="id").collect()
    assert len(stats) == 4
    assert sum(r["n_rows"] for r in stats) == 1000
    assert sum(r["n_bytes"] for r in stats) == 10000


def test_commit_stage_metrics_idempotent(spark, tmp_path):
    df = spark.range(100).select(F.col("id"), F.lit("abc").alias("t"))
    d = str(tmp_path / "metrics")
    m1 = commit_stage_metrics(df, "score", d, run_id="r1", size_col="t", id_col="id")
    m2 = commit_stage_metrics(df, "score", d, run_id="r1", size_col="t", id_col="id")
    assert m1["n_rows"] == m2["n_rows"] == 100
    # re-commit overwrote, not duplicated
    total = spark.read.parquet(m2["path"]).agg(F.sum("n_rows")).collect()[0][0]
    assert total == 100


def test_minhash_verify_plan_one_gram_aggregation(spark):
    """The exact-Jaccard verification must not join or shuffle on the
    gram hash: the exploded gram rows feed exactly one per-document
    aggregation, which builds both the gram-hash set and the MinHash
    signature. Every plan line naming the gram-hash column is its
    defining projection or that aggregation (partial or final)."""
    import re

    from triple_accel_spark.operators.dedup import minhash_lsh_duplicates

    df = spark.createDataFrame(
        [(i, f"document number {i} with some shared words") for i in range(30)],
        "doc_id long, text string",
    )
    out = minhash_lsh_duplicates(df, jaccard_threshold=0.5)
    try:
        plan = _plan(out)
        gh = re.search(r"AS (gh#\d+)", plan).group(1)
        aggs = set()
        for line in plan.splitlines():
            if gh not in line or f"AS {gh}" in line:
                continue
            assert "Exchange" not in line and "Join" not in line, line
            agg = re.search(r"Aggregate\(keys=\[rid#\d+L?\], functions=\[.*?\]", line)
            assert agg, line
            aggs.add(agg.group(0).replace("partial_", ""))
        assert len(aggs) == 1, aggs
        (agg,) = aggs
        assert f"collect_set({gh}" in agg
        assert f"min(xxhash64({gh}" in agg
    finally:
        for fr in out._persisted_frames:
            fr.unpersist()


def test_with_simhash_single_aggregation(spark):
    """with_simhash must be one map-side-combinable aggregation: a
    single exchange, no higher-order-function re-walks of gram arrays."""
    from triple_accel_spark.operators.dedup import with_simhash

    df = spark.createDataFrame(
        [(i, f"text number {i} repeated words") for i in range(10)],
        "doc_id long, text string",
    )
    plan = _plan(with_simhash(df))
    assert plan.count("Exchange") == 1
    assert "aggregate(" not in plan  # no interpreted HOF folds


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join: two tables bucketed on the same key/count must
    join with NO Exchange on either side (the 100 TB repeated-join
    shape — partitioning persisted in table metadata)."""
    from triple_accel_spark.sources.bucketed import read_bucketed, write_bucketed

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 200).selectExpr(
            "id AS conv_id", "concat('doc', id) AS doc"
        )
        b = spark.range(0, 200).selectExpr(
            "id AS conv_id", "id % 7 AS cluster_id"
        )
        write_bucketed(a, "t_docs_b", "conv_id", n_buckets=4)
        write_bucketed(b, "t_labels_b", "conv_id", n_buckets=4)
        j = read_bucketed(spark, "t_docs_b").join(
            read_bucketed(spark, "t_labels_b"), "conv_id"
        )
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() == 200
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_labels_b")
