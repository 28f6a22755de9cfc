"""The lineage sink: the driver totals of a commit equal a read-back of
what it wrote, every stage of a sink reads back under one schema, and
the census rows ``resolve_entities`` takes from its own actions equal
``partition_stats`` of the frames it returns."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from triple_accel_spark.operators.lineage import commit_stage_metrics, partition_stats
from triple_accel_spark.pipeline import ResolveConfig, resolve_entities
from triple_accel_spark.sources.transcripts import generate_transcripts


def _read_back(spark, path: str) -> dict:
    row = spark.read.parquet(path).agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_bytes").alias("n_bytes"),
    ).collect()[0]
    return {
        "n_partitions": row["n_partitions"],
        "n_rows": int(row["n_rows"] or 0),
        "n_bytes": int(row["n_bytes"]) if row["n_bytes"] is not None else None,
    }


FRAMES = {
    "multi_partition": (
        lambda s: s.range(1000).select(
            "id", F.repeat(F.lit("ab"), (F.col("id") % 7).cast("int")).alias("t")
        ).repartition(5),
        {"size_col": "t", "id_col": "id"},
    ),
    "no_size_no_id": (
        lambda s: s.range(300).repartition(3),
        {"size_col": None, "id_col": None},
    ),
    "empty": (
        lambda s: s.range(0).select("id", F.lit("x").alias("t")),
        {"size_col": "t", "id_col": "id"},
    ),
}


@pytest.mark.parametrize("name", sorted(FRAMES))
def test_commit_totals_match_read_back(spark, tmp_path, name):
    make, kw = FRAMES[name]
    df = make(spark)
    out = commit_stage_metrics(df, name, str(tmp_path / "m"), run_id="r", **kw)
    totals = {k: out[k] for k in ("n_partitions", "n_rows", "n_bytes")}
    assert totals == _read_back(spark, out["path"])
    assert out["n_rows"] == df.count()
    if name == "empty":
        assert out["n_rows"] == 0 and out["n_bytes"] is None
    if name == "multi_partition":
        assert out["n_partitions"] == 5
        assert out["n_bytes"] == sum(2 * (i % 7) for i in range(1000))
    if name == "no_size_no_id":
        assert out["n_bytes"] is None


def test_sink_root_reads_stages_with_and_without_ids(spark, tmp_path):
    """A census without ``id_col`` writes its id range as string NULLs,
    so the sink root still reads when another stage wrote string ids."""
    d = str(tmp_path / "m")
    commit_stage_metrics(spark.range(10), "with_ids", d, run_id="r", id_col="id")
    commit_stage_metrics(spark.range(7), "no_ids", d, run_id="r")
    root = spark.read.parquet(d)
    assert root.schema["min_id"].dataType.simpleString() == "string"
    rows = root.groupBy("stage").agg(
        F.sum("n_rows").alias("n"), F.count("min_id").alias("ids")
    ).collect()
    got = {r["stage"]: (r["n"], r["ids"]) for r in rows}
    assert got["no_ids"] == (7, 0)
    assert got["with_ids"][0] == 10 and got["with_ids"][1] > 0


def test_commit_to_a_path_without_scheme_is_local(spark, tmp_path, monkeypatch):
    """A metrics dir with no scheme is a local path, relative to the
    driver's working directory; a re-commit replaces the ordinal."""
    monkeypatch.chdir(tmp_path)
    for n in (9, 5):
        out = commit_stage_metrics(spark.range(n), "rel", "m", run_id="r", id_col="id")
    assert out["path"] == os.path.join("m", "run_id=r", "stage=rel", "ordinal=0")
    assert _read_back(spark, str(tmp_path / out["path"]))["n_rows"] == 5


CENSUS = ["partition_id", "n_rows", "n_bytes", "min_id", "max_id"]


@pytest.mark.parametrize("checkpointed", [True, False], ids=["distributed_cc", "local_cc"])
def test_resolve_sink_rows_equal_partition_stats(spark, tmp_path, checkpointed):
    """``resolve_entities`` takes its census rows from the actions that
    materialize each stage; they must equal ``partition_stats`` of the
    returned frames, and the root count must equal the distinct
    clusters."""
    tdf, _ = generate_transcripts(n_entities=60, seed=3)
    cfg = ResolveConfig(
        checkpoint_dir=str(tmp_path / "cc") if checkpointed else None,
        metrics_dir=str(tmp_path / "lineage"),
        run_id="p",
    )
    res = resolve_entities(spark.createDataFrame(tdf).repartition(4), cfg)
    for stage, df, kw in [
        ("docs", res.docs, {"size_col": "doc", "id_col": "conv_id"}),
        ("pairs_scored", res.pairs_scored, {"size_col": "doc_a", "id_col": "id_a"}),
        ("matches", res.matches, {"id_col": "id_a"}),
        ("clusters", res.clusters, {"id_col": "id"}),
    ]:
        sink = spark.read.parquet(res.metrics[f"lineage_{stage}"]["path"])
        want = partition_stats(df, stage, **kw).select(CENSUS).collect()
        assert sorted(map(tuple, sink.select(CENSUS).collect())) == sorted(
            map(tuple, want)
        ), stage
    assert res.metrics["n_matches"] > 0
    n_distinct = res.clusters.agg(F.countDistinct("cluster_id")).first()[0]
    assert res.metrics["n_clusters"] == n_distinct
    res.unpersist()
