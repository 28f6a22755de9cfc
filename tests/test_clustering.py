"""Soundness of the checkpointed connected components' convergence
rule: the loop stops at the first checkpoint whose edge set is a star
forest, and nowhere else, with labels equal to the driver-local
union-find on every graph."""

from __future__ import annotations

import json
import os
import random

import pytest
from pyspark.sql import functions as F

from triple_accel_spark.operators.clustering import (
    attach_singletons,
    connected_components,
    local_connected_components,
)


def _labels(df) -> set:
    return {(r["id"], r["cluster_id"]) for r in df.collect()}


def _is_star_forest(edges: list[tuple]) -> bool:
    """Every u has exactly one edge and no v appears as a u."""
    us = [u for u, _ in edges]
    return len(us) == len(set(us)) and not set(us) & {v for _, v in edges}


def _random_graph(spark, seed: int, id_type: str):
    rng = random.Random(seed)
    rows = [(rng.randrange(80), rng.randrange(80)) for _ in range(60)]
    if id_type == "string":
        rows = [(f"v{a}", f"v{b}") for a, b in rows]
    return spark.createDataFrame(rows, f"id_a {id_type}, id_b {id_type}")


# graphs beyond the shared ``cc_graph`` fixtures (conftest.CC_GRAPHS)
EXTRA_GRAPHS = {
    "random_bigint_1": lambda s: _random_graph(s, 1, "bigint"),
    "random_bigint_2": lambda s: _random_graph(s, 2, "bigint"),
    "random_string_1": lambda s: _random_graph(s, 1, "string"),
    "random_string_2": lambda s: _random_graph(s, 2, "string"),
    "empty": lambda s: s.createDataFrame([], "id_a bigint, id_b bigint"),
}
SHARED_GRAPHS = ["basic", "self_loops_and_reverse", "bigint_ladder", "chain64"]


@pytest.mark.parametrize("name", SHARED_GRAPHS + sorted(EXTRA_GRAPHS))
def test_cc_labels_match_union_find(spark, cc_graph, tmp_path, name):
    """Default and one-round checkpoint intervals both label like the
    union-find, and every manifest entry is marked converged exactly
    when its committed edge set is a star forest."""
    edges = EXTRA_GRAPHS[name](spark) if name in EXTRA_GRAPHS else cc_graph(name)
    want = _labels(local_connected_components(edges))
    assert _labels(connected_components(edges)) == want
    ckpt = str(tmp_path / "cc")
    got = _labels(connected_components(edges, checkpoint_dir=ckpt, checkpoint_interval=1))
    assert got == want
    with open(os.path.join(ckpt, "manifest.json")) as f:
        its = json.load(f)["iterations"]
    assert its[-1]["converged"]
    assert not any(it["converged"] for it in its[:-1])
    for it in its:
        frame = spark.read.parquet(it["path"])
        committed = [(r["u"], r["v"]) for r in frame.collect()]
        assert all(u > v for u, v in committed)
        assert it["n_edges"] == len(committed)
        # the manifest checksum is the xor of the committed edges' hashes
        xor = frame.agg(F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0))).first()[0]
        assert it["checksum"] == xor
        assert it["converged"] == _is_star_forest(committed), it
    if name == "chain64":
        # still a path after one round: the first checkpoint is not a
        # star forest and must not stop the loop
        assert len(its) > 1


def test_cc_resumes_parent_format_manifest(spark, cc_graph, tmp_path):
    """A manifest that confirmed its fixed point with a second, equal
    checkpoint (the earlier convergence rule) still resumes: straight
    to labelling, with no new checkpoint."""
    edges = cc_graph("basic")
    ckpt = str(tmp_path / "cc")
    connected_components(edges, checkpoint_dir=ckpt, checkpoint_interval=1)
    with open(os.path.join(ckpt, "manifest.json")) as f:
        man = json.load(f)
    last = dict(man["iterations"][-1])
    man["iterations"][-1]["converged"] = False
    man["iterations"].append(dict(last, iteration=last["iteration"] + 2))
    with open(os.path.join(ckpt, "manifest.json"), "w") as f:
        json.dump(man, f)
    before = sorted(os.listdir(ckpt))
    got = _labels(connected_components(edges, checkpoint_dir=ckpt, checkpoint_interval=1))
    assert got == _labels(local_connected_components(edges))
    assert sorted(os.listdir(ckpt)) == before
    with open(os.path.join(ckpt, "manifest.json")) as f:
        assert json.load(f) == man


def test_cc_converged_resume_runs_no_job_until_labels_are_read(spark, cc_graph, tmp_path):
    """A manifest whose last entry is converged resumes with no Spark
    job: the checkpoint is read back with a known schema, so no job
    infers one from its parquet footers."""
    edges = cc_graph("basic")
    ckpt = str(tmp_path / "cc")
    want = _labels(connected_components(edges, checkpoint_dir=ckpt))
    sc = spark.sparkContext
    group = "cc-converged-resume"
    sc.setJobGroup(group, "resume")
    try:
        labels = connected_components(edges, checkpoint_dir=ckpt)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert _labels(labels) == want
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", SHARED_GRAPHS)
def test_attach_singletons_equals_union_form(spark, cc_graph, name):
    """The one-join ``attach_singletons`` equals the labels unioned with
    self-labelled ids that have no label, on the shared CC graphs plus
    ids that appear in no edge."""
    edges = cc_graph(name)
    id_type = edges.schema["id_a"].dataType.simpleString()
    extra = ["s1", "s2"] if id_type == "string" else [1000, 1001]
    ids = (
        edges.select(F.col("id_a").alias("conv_id"))
        .union(edges.select("id_b"))
        .union(spark.createDataFrame([(x,) for x in extra], f"conv_id {id_type}"))
    )
    labels = connected_components(edges)
    union_form = labels.union(
        ids.select(F.col("conv_id").alias("id")).distinct()
        .join(labels.select("id"), "id", "left_anti")
        .withColumn("cluster_id", F.col("id"))
    )
    got = sorted(map(tuple, attach_singletons(labels, ids).collect()))
    assert got == sorted(map(tuple, union_form.collect()))
    assert {x for x, c in got if x == c} >= set(extra)
