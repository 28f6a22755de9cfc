"""Per-partition lineage / metrics side-outputs.

North-rule requirement: per-partition lineage and metric rows (pairs
scored, prunes, cluster merges) committed per checkpoint. Two
mechanisms:

* ``partition_stats`` — a pure-DataFrame census of a stage's output
  keyed by ``spark_partition_id()`` (rows, bytes, id range per
  partition). Aggregation is map-side combinable; cost is one narrow
  pass over the stage output.
* ``commit_stage_metrics`` — appends those rows, stamped with
  (run_id, stage, commit ordinal), to a parquet metrics sink. The
  write is idempotent per (run_id, stage, ordinal) directory so a
  restarted job overwrites rather than duplicates its own partials
  (same commit discipline as the clustering checkpoint manifest).
  A commit is one write job per stage: the driver totals it returns
  are observed on the census rows as the write streams them
  (``pyspark.sql.Observation``), not read back from the sink.

The connected-components loop records its own per-iteration facts
(edge counts, checksum, convergence) in its checkpoint manifest — see
``clustering.py``; this module covers the scan/block/pair/score stages.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from triple_accel_spark import session


def partition_stats(
    df: DataFrame,
    stage: str,
    size_col: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """One row per partition of ``df``: row count, payload bytes, id
    range. Columns: stage, partition_id, n_rows, n_bytes, min_id,
    max_id."""
    agg = [
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum(F.length(size_col)) if size_col else F.lit(None).cast("long")
        ).alias("n_bytes"),
        (
            F.min(F.col(id_col).cast("string")) if id_col else F.lit(None)
        ).alias("min_id"),
        (
            F.max(F.col(id_col).cast("string")) if id_col else F.lit(None)
        ).alias("max_id"),
    ]
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(*agg)
        .select(F.lit(stage).alias("stage"), "*")
    )


def commit_stage_metrics(
    df: DataFrame,
    stage: str,
    metrics_dir: str,
    run_id: str,
    ordinal: int = 0,
    size_col: str | None = None,
    id_col: str | None = None,
) -> dict:
    """Commit a stage's partition census to the metrics sink and return
    the driver-side totals observed on the written rows. Layout:
    ``{metrics_dir}/run_id={run_id}/stage={stage}/ordinal={ordinal}``
    — overwritten on retry, so replays are idempotent."""
    stats = partition_stats(df, stage, size_col=size_col, id_col=id_col)
    stats = stats.withColumn("run_id", F.lit(run_id)).withColumn(
        "ordinal", F.lit(ordinal)
    ).withColumn("committed_at", F.lit(time.time()))
    path = os.path.join(
        metrics_dir, f"run_id={run_id}", f"stage={stage}", f"ordinal={ordinal}"
    )
    totals = Observation()
    with session.stage(df.sparkSession, "lineage"):
        stats.observe(
            totals,
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_bytes").alias("n_bytes"),
        ).write.mode("overwrite").parquet(path)
    row = totals.get
    return {
        "stage": stage,
        "n_partitions": row["n_partitions"],
        "n_rows": int(row["n_rows"] or 0),
        "n_bytes": int(row["n_bytes"]) if row["n_bytes"] is not None else None,
        "path": path,
    }
