"""Per-partition lineage / metrics side-outputs.

North-rule requirement: per-partition lineage and metric rows (pairs
scored, prunes, cluster merges) committed per checkpoint. A stage's
census is one row per partition of its output, keyed by
``spark_partition_id()``: rows, payload bytes, id range.

* ``census_aggs`` — the census as aggregate Columns, optionally over
  the rows where a condition holds. A caller that already runs an
  action over a stage's output (``pipeline.resolve_entities``: the
  docs pin, the scored aggregate, the clusters pin) groups that action
  by ``spark_partition_id()`` and adds these aggregates, so the census
  costs no job of its own. One grouped action can carry two stages
  (``pairs_scored`` and its filter ``matches``), since a filter keeps
  every row in its partition.
* ``partition_stats`` — the census of one stage as a DataFrame (one
  map-side combinable aggregation, one narrow pass over the output).
* ``write_stage_metrics`` — writes collected census rows, stamped with
  (run_id, stage, commit ordinal), to the parquet metrics sink from
  the driver with pyarrow (no Spark job), and returns the driver
  totals. The ordinal directory is deleted and rewritten, so a
  restarted job overwrites rather than duplicates its own partials
  (same commit discipline as the clustering checkpoint manifest).
* ``commit_stage_metrics`` — ``partition_stats(...).collect()`` (one
  action, labelled ``lineage``) plus that writer, for a frame no existing
  action covers. ``resolve_entities`` needs it for no stage; its only
  ``lineage`` action is the ``candidates`` census, one scan of the
  candidate frame it persists in lineage mode.

The connected-components loop records its own per-iteration facts
(edge counts, checksum, convergence) in its checkpoint manifest — see
``clustering.py``; this module covers the scan/block/pair/score stages.
"""

from __future__ import annotations

import os
import time
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from triple_accel_spark import session

CENSUS_COLS = ("n_rows", "n_bytes", "min_id", "max_id")

# the sink's columns: the census, stamped with run, ordinal and commit time
SINK_SCHEMA = pa.schema([
    ("stage", pa.string()),
    ("partition_id", pa.int32()),
    ("n_rows", pa.int64()),
    ("n_bytes", pa.int64()),
    ("min_id", pa.string()),
    ("max_id", pa.string()),
    ("run_id", pa.string()),
    ("ordinal", pa.int32()),
    ("committed_at", pa.float64()),
])


def census_aggs(
    size_col: str | None = None,
    id_col: str | None = None,
    where: Column | None = None,
    prefix: str = "",
) -> list[Column]:
    """The census aggregates ``n_rows, n_bytes, min_id, max_id`` (each
    name prefixed by ``prefix``) over the rows where ``where`` holds, or
    over all rows. ``n_bytes`` is NULL without ``size_col``; the id
    range is a string (NULL without ``id_col``), so every stage of a
    sink shares one schema."""

    def only(c: Column) -> Column:
        return c if where is None else F.when(where, c)

    if id_col:
        ids = only(F.col(id_col).cast("string"))
        lo, hi = F.min(ids), F.max(ids)
    else:
        lo = hi = F.lit(None).cast("string")
    return [
        F.count(only(F.lit(1))).alias(prefix + "n_rows"),
        (
            F.sum(only(F.length(size_col))) if size_col else F.lit(None).cast("long")
        ).alias(prefix + "n_bytes"),
        lo.alias(prefix + "min_id"),
        hi.alias(prefix + "max_id"),
    ]


def partition_stats(
    df: DataFrame,
    stage: str,
    size_col: str | None = None,
    id_col: str | None = None,
) -> DataFrame:
    """One row per partition of ``df``: row count, payload bytes, id
    range. Columns: stage, partition_id, n_rows, n_bytes, min_id,
    max_id."""
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(*census_aggs(size_col, id_col))
        .select(F.lit(stage).alias("stage"), "*")
    )


def census_rows(rows: list, prefix: str = "") -> list[tuple]:
    """``(partition_id, n_rows, n_bytes, min_id, max_id)`` of every
    collected census row with at least one counted row: a partition
    where a ``census_aggs(where=...)`` condition never holds has no
    census row, as ``partition_stats`` of the filtered frame gives."""
    out = [(r["partition_id"], *(r[prefix + c] for c in CENSUS_COLS)) for r in rows]
    return [t for t in out if t[1]]


def write_stage_metrics(
    rows: list[tuple],
    stage: str,
    metrics_dir: str,
    run_id: str,
    ordinal: int = 0,
) -> dict:
    """Write census rows ``(partition_id, n_rows, n_bytes, min_id,
    max_id)`` to the metrics sink and return the driver totals. Layout:
    ``{metrics_dir}/run_id={run_id}/stage={stage}/ordinal={ordinal}``
    — deleted and rewritten on retry, so replays are idempotent."""
    path = os.path.join(
        metrics_dir, f"run_id={run_id}", f"stage={stage}", f"ordinal={ordinal}"
    )
    now = time.time()
    table = pa.Table.from_pylist(
        [dict(zip(SINK_SCHEMA.names, (stage, *r, run_id, ordinal, now))) for r in rows],
        schema=SINK_SCHEMA,
    )
    # a path with no scheme is local
    fs, fs_path = pafs.FileSystem.from_uri(
        path if urlparse(path).scheme else os.path.abspath(path)
    )
    if fs.get_file_info(fs_path).type != pafs.FileType.NotFound:
        fs.delete_dir(fs_path)
    fs.create_dir(fs_path, recursive=True)
    # the parquet types carry the whole schema: no Arrow copy of it
    pq.write_table(
        table, f"{fs_path}/part-00000.parquet", filesystem=fs, store_schema=False
    )
    sizes = [r[2] for r in rows if r[2] is not None]
    return {
        "stage": stage,
        "n_partitions": len(rows),
        "n_rows": sum(r[1] for r in rows),
        "n_bytes": sum(sizes) if sizes else None,
        "path": path,
    }


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
    the driver totals of the written rows (see ``write_stage_metrics``).
    The census is one Spark action, labelled ``lineage``."""
    with session.stage(df.sparkSession, "lineage"):
        rows = partition_stats(df, stage, size_col=size_col, id_col=id_col).collect()
    return write_stage_metrics(census_rows(rows), stage, metrics_dir, run_id, ordinal)
