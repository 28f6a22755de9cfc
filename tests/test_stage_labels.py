"""Stage labels: ``session.stage`` and the labels the entry points put
on every Spark job they run."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import defaultdict

import pytest

from triple_accel_spark.session import STAGE_KEY, stage

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _label(spark):
    return spark.sparkContext.getLocalProperty(STAGE_KEY)


def test_stage_inner_label_wins_and_outer_comes_back(spark):
    with stage(spark, "outer"):
        assert _label(spark) == "outer"
        with stage(spark, "inner"):
            assert _label(spark) == "inner"
        assert _label(spark) == "outer"


def test_stage_restores_label_after_exception(spark):
    with stage(spark, "outer"):
        with pytest.raises(RuntimeError):
            with stage(spark, "inner"):
                raise RuntimeError("boom")
        assert _label(spark) == "outer"


def test_stage_leaves_no_label(spark):
    assert _label(spark) is None
    with stage(spark, "outer"):
        with stage(spark, "inner"):
            pass
    assert _label(spark) is None


# Runs in its own process: the event log must be switched on before the
# session starts. Each entry point runs under its own job group; the
# final job runs after every call has returned.
_ENTRY_POINTS = r"""
import os, random, sys
from triple_accel_spark.operators.corpus import prepare_training_corpus
from triple_accel_spark.operators.dedup import dedup_near
from triple_accel_spark.operators.linkage import link_records
from triple_accel_spark.pipeline import ResolveConfig, resolve_entities
from triple_accel_spark.session import get_spark
from triple_accel_spark.sources.transcripts import generate_transcripts

log_dir, work = sys.argv[1], sys.argv[2]
spark = get_spark("stage-labels", master="local[2]", shuffle_partitions=2, extra_conf={
    "spark.driver.memory": "1g",
    "spark.eventLog.enabled": "true",
    "spark.eventLog.dir": "file://" + log_dir,
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
})
sc = spark.sparkContext
transcripts = spark.createDataFrame(generate_transcripts(n_entities=40, seed=7)[0])
rng = random.Random(3)
words = "spark join shuffle stage block pair score merge cache plan task".split()
texts = [" ".join(rng.choice(words) for _ in range(rng.randint(8, 30))) for _ in range(60)]
docs = spark.createDataFrame(
    [(i, t) for i, t in enumerate(texts)] + [(100 + i, texts[i]) for i in range(10)],
    "doc_id long, text string",
)
left = docs.withColumnRenamed("doc_id", "id")
right = spark.createDataFrame(
    [(1000 + i, t[:10] + t[12:]) for i, t in enumerate(texts)], "id long, text string"
)

def run(group, call):
    sc.setJobGroup(group, group)
    res = call()
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    if hasattr(res, "unpersist"):
        res.unpersist()

run("resolve_checkpointed", lambda: resolve_entities(transcripts, ResolveConfig(
    checkpoint_dir=os.path.join(work, "cc"), metrics_dir=os.path.join(work, "lineage"),
)))
run("resolve_local_cc", lambda: resolve_entities(transcripts))
run("link_records", lambda: link_records(left, right))
run("prepare_training_corpus", lambda: prepare_training_corpus(docs))
run("dedup_near_simhash", lambda: dedup_near(docs, method="simhash"))
sc.setJobGroup("after", "after")
spark.range(3).count()
spark.stop()
"""

GROUPS = ("resolve_checkpointed", "resolve_local_cc", "link_records",
          "prepare_training_corpus", "dedup_near_simhash")


def _layer_names() -> set[str]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        per_layer = json.load(f)["per_layer"]
    return {m["name"][: -len(".wall_s")] for m in per_layer
            if m["name"].endswith(".wall_s")}


def test_every_entry_point_job_carries_a_layer_label(tmp_path):
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp_path / "local"))
    subprocess.run(
        [sys.executable, "-c", _ENTRY_POINTS, str(log_dir), str(tmp_path / "work")],
        cwd=REPO, env=env, check=True, timeout=600,
    )
    # the checkpointed call ran the distributed CC
    assert (tmp_path / "work" / "cc" / "manifest.json").exists()
    (log,) = log_dir.iterdir()
    labels = defaultdict(list)
    with open(log) as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                labels[props.get("spark.jobGroup.id")].append(props.get(STAGE_KEY))
    layers = _layer_names()
    assert len(layers) == 9
    for group in GROUPS:
        assert labels[group], f"{group} ran no job"
        unlabelled = [x for x in labels[group] if x not in layers]
        assert not unlabelled, f"{group}: {len(unlabelled)} jobs without a layer label"
    assert labels["after"] and set(labels["after"]) == {None}
