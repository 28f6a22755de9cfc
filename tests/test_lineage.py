"""The lineage sink's driver totals are observed on the census write;
they must equal a read-back of what the write committed."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from triple_accel_spark.operators.lineage import commit_stage_metrics


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
