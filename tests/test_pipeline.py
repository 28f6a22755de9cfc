"""Pipeline operator tests: assembly ordering, pair-join correctness
(incl. salted hot blocks), connected components (+resume), and the
end-to-end F1 >= 0.99 gate on the synthetic labeled corpus."""

from __future__ import annotations

import itertools
import json

import pytest
from pyspark.sql import functions as F

from triple_accel_spark.operators.assemble import TURN_SEP, assemble_documents
from triple_accel_spark.operators.blocking import with_minhash_blocks, with_prefix_blocks
from triple_accel_spark.operators.clustering import attach_singletons, connected_components
from triple_accel_spark.operators.pairs import candidate_pairs
from triple_accel_spark.operators.scoring import pairwise_f1, score_pairs
from triple_accel_spark.pipeline import ResolveConfig, resolve_entities
from triple_accel_spark.sources.transcripts import generate_transcripts


def test_assemble_stable_order(spark):
    rows = [
        ("c1", 2, "tool", "third", None, None),
        ("c1", 0, "user", "first", None, None),
        ("c1", 1, "assistant", "second", None, None),
        ("c2", 0, "user", "only", None, None),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    # shuffle the physical layout to prove ordering is logical
    docs = {
        r["conv_id"]: r["doc"]
        for r in assemble_documents(df.repartition(5)).collect()
    }
    assert docs["c1"] == TURN_SEP.join(["first", "second", "third"])
    assert docs["c2"] == "only"


def _pairs_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.select("id_a", "id_b").collect()}


def test_candidate_pairs_exact_no_salt(spark):
    rows = [(f"r{i}", "blk", f"t{i}") for i in range(6)] + [("x0", "other", "tx")]
    df = spark.createDataFrame(rows, "conv_id string, block_key string, doc string")
    got = _pairs_set(
        candidate_pairs(df, salt_threshold=100, max_block_size=None)
    )
    want = {
        (f"r{i}", f"r{j}") for i, j in itertools.combinations(range(6), 2)
    }
    assert got == want


def _block_pairs(rows):
    """Brute force: every unordered pair of ids sharing a block key."""
    blocks: dict = {}
    for rid, bk, _ in rows:
        blocks.setdefault(bk, []).append(rid)
    return {
        tuple(sorted(p))
        for ids in blocks.values() for p in itertools.combinations(ids, 2)
    }


@pytest.mark.parametrize("shards", [2, 3, 8])
def test_candidate_pairs_salted_equals_unsalted(spark, shards):
    """Salting a hot block must produce exactly the same pair set. The
    "at" block has exactly ``salt_threshold`` records (not salted), the
    "over" block one more (salted); both give the brute-force pairs."""
    rows = [(f"r{i:03d}", "hot", f"t{i}") for i in range(40)]
    rows += [(f"s{i}", "cold", f"u{i}") for i in range(3)]
    rows += [(f"a{i:02d}", "at", "v") for i in range(10)]
    rows += [(f"o{i:02d}", "over", "w") for i in range(11)]
    df = spark.createDataFrame(rows, "conv_id string, block_key string, doc string")
    plain = _pairs_set(candidate_pairs(df, salt_threshold=10_000, max_block_size=None))
    salted = _pairs_set(
        candidate_pairs(
            df, salt_threshold=10, salt_shards=shards, max_block_size=None
        )
    )
    assert salted == plain == _block_pairs(rows)
    # and every pair is canonicalized and unique
    assert all(a < b for a, b in salted)


def test_candidate_pairs_block_cap(spark):
    """Blocks above ``max_block_size`` drop; a block of exactly
    ``max_block_size`` records is kept, one of ``max_block_size + 1``
    is dropped."""
    rows = [(f"r{i}", "big", "t") for i in range(50)] + [
        ("a", "ok", "t1"),
        ("b", "ok", "t2"),
    ]
    at_cap = [(f"c{i}", "at_cap", "t") for i in range(10)]
    over_cap = [(f"d{i:02d}", "over_cap", "t") for i in range(11)]
    df = spark.createDataFrame(
        rows + at_cap + over_cap, "conv_id string, block_key string, doc string"
    )
    got = _pairs_set(candidate_pairs(df, max_block_size=10))
    assert got == {("a", "b")} | _block_pairs(at_cap)


def test_candidate_pairs_dedup_across_bands(spark):
    rows = [("a", "k1", "t1"), ("b", "k1", "t2"), ("a", "k2", "t1"), ("b", "k2", "t2")]
    df = spark.createDataFrame(rows, "conv_id string, block_key string, doc string")
    out = candidate_pairs(df, max_block_size=None)
    assert out.count() == 1


def test_connected_components_basic(cc_graph):
    edges = cc_graph("basic")
    labels = connected_components(edges)
    got = {r["id"]: r["cluster_id"] for r in labels.collect()}
    # a-b-c-r-q-p is one chain; x-y another
    assert {got[k] for k in "abcpqr"} == {"a"}
    assert got["x"] == got["y"] == "x"


def test_connected_components_long_chain(cc_graph):
    edges = cc_graph("chain64")
    labels = connected_components(edges, max_iter=12)
    got = {r["cluster_id"] for r in labels.collect()}
    assert got == {"n000"}


def test_connected_components_checkpoint_resume(spark, tmp_path):
    ckpt = str(tmp_path / "cc")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "id_a string, id_b string"
    )
    l1 = connected_components(edges, checkpoint_dir=ckpt)
    got1 = {r["id"]: r["cluster_id"] for r in l1.collect()}
    with open(f"{ckpt}/manifest.json") as f:
        man1 = json.load(f)
    iters1 = sorted(p.name for p in (tmp_path / "cc").glob("iter_*"))
    assert man1["iterations"][-1]["converged"]
    # the manifest entry is the one per-iteration record
    assert {"iteration", "n_edges", "checksum", "converged"} <= set(man1["iterations"][-1])
    assert not (tmp_path / "cc" / "metrics").exists()
    # resume: a fresh call with the same checkpoint dir must converge
    # immediately from the manifest and give identical labels, running
    # no round: no new iter_* directory or manifest entry
    l2 = connected_components(edges, checkpoint_dir=ckpt)
    got2 = {r["id"]: r["cluster_id"] for r in l2.collect()}
    assert got1 == got2
    with open(f"{ckpt}/manifest.json") as f:
        assert json.load(f) == man1
    assert sorted(p.name for p in (tmp_path / "cc").glob("iter_*")) == iters1


def test_attach_singletons(spark):
    labels = spark.createDataFrame([("a", "a"), ("b", "a")], "id string, cluster_id string")
    ids = spark.createDataFrame([("a",), ("b",), ("z",)], "conv_id string")
    got = {r["id"]: r["cluster_id"] for r in attach_singletons(labels, ids).collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


def test_end_to_end_f1(spark, tmp_path):
    """North-rule gate: pairwise F1 >= 0.99 on the labeled corpus."""
    tdf, truth_pdf = generate_transcripts(n_entities=250, seed=42)
    transcripts = spark.createDataFrame(tdf).repartition(8)
    truth = spark.createDataFrame(truth_pdf)

    cfg = ResolveConfig(
        checkpoint_dir=str(tmp_path / "cc"),
        metrics_dir=str(tmp_path / "lineage"),
        run_id="t1",
    )
    res = resolve_entities(transcripts, cfg)

    # pair-level F1 of the match decision
    f1 = pairwise_f1(res.matches, truth)
    assert f1["f1"] >= 0.99, f1

    # per-partition lineage rows committed for every stage
    lin = spark.read.parquet(str(tmp_path / "lineage"))
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == {"docs", "candidates", "pairs_scored", "matches", "clusters"}
    # the observed census totals equal the pipeline's own counts
    for stage, count in [
        ("docs", "n_docs"),
        ("pairs_scored", "n_pairs_scored"),
        ("matches", "n_matches"),
        ("clusters", "n_records"),
    ]:
        assert res.metrics[f"lineage_{stage}"]["n_rows"] == res.metrics[count], stage

    # prune count is a recorded lineage fact: candidates census minus
    # scored survivors, never negative
    assert res.metrics["n_candidates"] >= res.metrics["n_pairs_scored"]
    assert res.metrics["n_pruned"] == (
        res.metrics["n_candidates"] - res.metrics["n_pairs_scored"]
    )
    assert res.metrics["n_pruned"] >= 0

    # cluster-level: predicted clusters induce pairs; compare those too
    cl = res.clusters.alias("l").join(
        res.clusters.alias("r"), F.col("l.cluster_id") == F.col("r.cluster_id")
    ).where(F.col("l.id") < F.col("r.id")).select(
        F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b")
    )
    f1c = pairwise_f1(cl, truth)
    assert f1c["f1"] >= 0.99, f1c

    assert res.metrics["n_docs"] == res.metrics["n_records"]
    assert res.metrics["n_pairs_scored"] >= res.metrics["n_matches"]
