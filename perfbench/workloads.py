"""The two workloads: seeded inputs, one timed job through the public
entry point, an output digest, and a quality score against planted truth.

A job runs from the input-parquet scan to its final action, which is the
output digest, so every timed repetition consumes its whole result.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import inputs
from triple_accel_spark.operators.corpus import CleanseConfig, prepare_training_corpus
from triple_accel_spark.operators.linkage import LinkConfig, link_records
from triple_accel_spark.pipeline import ResolveConfig, resolve_entities

# input sizes: transcript turns for er_resolve, documents for cleanse_link
SIZES = {"er_resolve": 1600, "cleanse_link": 400}

# the bench.py q7 and q8 configurations
CLEANSE_CFG = dict(
    min_tokens=5, quality_threshold=0.5, langs=None,
    jaccard_threshold=0.5, num_bands=8,
)
LINK_SIM = 0.85


def digest(df: DataFrame, *cols: str) -> tuple[int, int, int]:
    """Order-insensitive content digest: row count, xor and bounded sum
    of a per-row 64-bit hash."""
    h = F.xxhash64(*cols)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(h), F.lit(0)).alias("x"),
        F.coalesce(F.sum(F.pmod(h, F.lit(1 << 31))), F.lit(0)).alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["x"]), int(row["s"])


def write_parquet(df: pd.DataFrame, path: str, n_files: int = 1) -> None:
    """Materialize an input table as ``n_files`` parquet files, written by
    pyarrow directly so set-up runs no Spark job."""
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        table = pa.Table.from_pandas(df.iloc[part], preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"),
                       coerce_timestamps="us")


def f1(predicted: set, truth: set) -> float:
    tp = len(predicted & truth)
    if not tp:
        return 0.0
    precision, recall = tp / len(predicted), tp / len(truth)
    return 2 * precision * recall / (precision + recall)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Workload:
    """Base: ``size`` scales the generated input."""

    name = ""

    def __init__(self, size: int):
        self.size = size


@dataclass
class Job:
    """One finished repetition: its digest, the output frame the quality
    score reads, and the handle that releases its caches."""

    digest: tuple[int, ...]
    output: DataFrame | tuple[DataFrame, ...]
    release: Callable[[], None]


class ErResolve(Workload):
    name = "er_resolve"

    def prepare(self, spark: SparkSession, work: str, seed: int) -> None:
        turns, truth = inputs.transcripts(seed, self.size)
        self.path = os.path.join(work, "transcripts.parquet")
        write_parquet(turns, self.path, spark.sparkContext.defaultParallelism)
        self.truth = set(zip(truth["id_a"], truth["id_b"]))
        self.records = len(turns)

    def config(self, rep_dir: str) -> ResolveConfig:
        # fresh, empty checkpoint and lineage dirs per repetition: CC
        # would otherwise resume from the previous converged manifest
        return ResolveConfig(
            checkpoint_dir=os.path.join(rep_dir, "ckpt"),
            metrics_dir=os.path.join(rep_dir, "metrics"),
            run_id="bench",
        )

    def run(self, spark: SparkSession, rep_dir: str) -> Job:
        cfg = self.config(rep_dir)
        res = resolve_entities(spark.read.parquet(self.path), cfg)
        d = digest(res.clusters, "id", "cluster_id")
        check_cc_manifest(cfg)
        return Job(d, res.clusters, res.unpersist)

    def quality(self, spark: SparkSession, job: Job) -> float:
        """Pairwise F1: same-cluster pairs against the planted truth."""
        members: dict = {}
        for r in job.output.collect():
            members.setdefault(r["cluster_id"], []).append(r["id"])
        pred = {
            (a, b)
            for ids in members.values() for a in ids for b in ids if a < b
        }
        return f1(pred, self.truth)


def check_cc_manifest(cfg: ResolveConfig) -> int:
    """Star rounds run by the checkpointed CC; raises unless this run
    started at iteration 0 and converged."""
    with open(os.path.join(cfg.checkpoint_dir, "manifest.json")) as f:
        its = json.load(f)["iterations"]
    if its[0]["iteration"] != cfg.cc_checkpoint_interval - 1:
        raise RuntimeError(f"CC resumed from a stale manifest: {its[0]}")
    if not its[-1]["converged"]:
        raise RuntimeError("CC did not converge")
    return its[-1]["iteration"] + 1


class CleanseLink(Workload):
    """Two jobs over one documents table: ``prepare_training_corpus`` of
    the documents plus planted copies, and ``link_records`` of the
    span-deleted even documents (right) against the documents (left)."""

    name = "cleanse_link"

    def prepare(self, spark: SparkSession, work: str, seed: int) -> None:
        docs = inputs.documents(seed, self.size)
        corpus, self.planted = inputs.corpus_with_copies(seed, docs)
        right = inputs.link_right(seed, docs)
        self.corpus_path = os.path.join(work, "corpus.parquet")
        self.left_path = os.path.join(work, "left.parquet")
        self.right_path = os.path.join(work, "right.parquet")
        write_parquet(corpus, self.corpus_path)
        write_parquet(docs.rename(columns={"doc_id": "id"}), self.left_path)
        write_parquet(right, self.right_path)
        self.ids = set(int(i) for i in corpus["doc_id"])
        self.link_truth = {(int(i) - inputs.RIGHT_ID_OFFSET, int(i)) for i in right["id"]}
        self.records = len(corpus) + len(docs) + len(right)

    def link_tables(self, spark: SparkSession) -> tuple[DataFrame, DataFrame]:
        return spark.read.parquet(self.left_path), spark.read.parquet(self.right_path)

    def run(self, spark: SparkSession, rep_dir: str) -> Job:
        cleansed = prepare_training_corpus(
            spark.read.parquet(self.corpus_path), cfg=CleanseConfig(**CLEANSE_CFG)
        )
        d = digest(cleansed.kept, "doc_id")
        linked = link_records(*self.link_tables(spark),
                              cfg=LinkConfig(sim_threshold=LINK_SIM))
        d += digest(linked.best, "id_l", "id_r", "dist", "sim")

        def release() -> None:
            linked.unpersist()
            cleansed.unpersist()

        return Job(d, (cleansed.kept, linked.best), release)

    def quality(self, spark: SparkSession, job: Job) -> float:
        """The lower of two F1 scores: the dropped ids against the planted
        copies, and each right record's best partner against its source."""
        kept_df, best_df = job.output
        kept = {int(r[0]) for r in kept_df.select("doc_id").collect()}
        best = {(r["id_l"], r["id_r"]) for r in best_df.select("id_l", "id_r").collect()}
        return min(f1(self.ids - kept, self.planted), f1(best, self.link_truth))


WORKLOADS = {w.name: w for w in (ErResolve, CleanseLink)}
