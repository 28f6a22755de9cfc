"""Traced run: each workload's entry point re-composed from the public
layer functions, one Spark job group per layer.

Every layer call runs inside a span that sets the job group
``perfbench.<layer>`` and materializes the layer's output, so the span's
wall time and the event-log stages of that group belong to the layer.
Jobs that only count things for the table run under
``perfbench.census`` and belong to no layer. The composition must
reproduce the entry point's output digest exactly (the decomposition
guard); any drift between this copy and ``resolve_entities``,
``link_records`` or ``prepare_training_corpus`` fails the run.
"""

from __future__ import annotations

import glob
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import Window
from pyspark.sql import functions as F

from perfbench import eventlog
from perfbench.workloads import (
    CLEANSE_CFG, LINK_SIM, CleanseLink, ErResolve, check_cc_manifest, digest,
    dir_bytes,
)
from triple_accel_spark.functions import length_prefilter
from triple_accel_spark.operators.assemble import assemble_documents
from triple_accel_spark.operators.blocking import rebalance_small_scan, with_minhash_blocks
from triple_accel_spark.operators.clustering import (
    attach_singletons, connected_components, local_connected_components,
)
from triple_accel_spark.operators.corpus import CleanseConfig
from triple_accel_spark.operators.dedup import dedup_exact, minhash_lsh_duplicates
from triple_accel_spark.operators.lineage import commit_stage_metrics
from triple_accel_spark.operators.linkage import LinkConfig, candidate_links
from triple_accel_spark.operators.pairs import block_stats, candidate_pairs
from triple_accel_spark.operators.scoring import relative_k_col, score_pairs
from triple_accel_spark.operators.text import quality_features, token_count, with_lang_id
from triple_accel_spark.pipeline import ResolveConfig

LAYERS = ("assemble", "blocking", "pairs", "scoring", "linkage", "clustering",
          "lineage", "text", "dedup")
GROUP_PREFIX = "perfbench."
CENSUS = "census"
# the local union-find threshold of dedup.dedup_near
DEDUP_CC_LOCAL_THRESHOLD = 100_000


class Tracer:
    """Layer spans: wall time and output rows per layer, plus the extra
    per-layer counts each composition records."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.wall = defaultdict(float)
        self.rows = defaultdict(int)
        self.extra: dict[str, float] = {}

    @contextmanager
    def span(self, layer: str):
        self.sc.setJobGroup(GROUP_PREFIX + layer, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[layer] += time.perf_counter() - t0
            self.sc.setJobGroup(GROUP_PREFIX + CENSUS, CENSUS)

    def materialize(self, layer: str, df):
        """Persist ``df`` and count it inside the current span."""
        df = df.persist()
        self.rows[layer] += df.count()
        return df


def _count_match(scored, threshold: float):
    row = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("sim") >= threshold, 1)).alias("m"),
    ).collect()[0]
    return row["n"], row["m"]


def _scoring_extras(tr: Tracer, udf_rows: int, matches: int) -> None:
    scored = tr.rows["scoring"]
    tr.extra["scoring.udf_rows"] = udf_rows
    tr.extra["scoring.scored_rows"] = scored
    tr.extra["scoring.match_rows"] = matches
    tr.extra["scoring.kernel_yield"] = scored / udf_rows if udf_rows else 0.0
    tr.extra["scoring.pairs_per_s"] = udf_rows / tr.wall["scoring"]


def er_resolve(spark, wl: ErResolve, rep_dir: str, tr: Tracer):
    """``pipeline.resolve_entities`` with minhash blocking, per-pair k,
    a checkpoint dir and a lineage sink."""
    cfg: ResolveConfig = wl.config(rep_dir)

    def commit(df, stage, **kw):
        with tr.span("lineage"):
            out = commit_stage_metrics(df, stage, cfg.metrics_dir, run_id=cfg.run_id, **kw)
            tr.rows["lineage"] += out["n_partitions"]

    with tr.span("assemble"):
        docs = tr.materialize("assemble", assemble_documents(spark.read.parquet(wl.path)))
    commit(docs, "docs", size_col="doc", id_col="conv_id")
    k = relative_k_col(cfg.sim_threshold, "doc_a", "doc_b")
    with tr.span("blocking"):
        blocked = tr.materialize("blocking", with_minhash_blocks(
            docs, "doc", q=cfg.q, num_hashes=cfg.num_hashes, num_bands=cfg.num_bands
        ))
    naive = block_stats(blocked).collect()[0]["naive_pairs"]
    with tr.span("pairs"):
        cand = candidate_pairs(
            blocked, id_col="conv_id", block_col="block_key", payload_cols=("doc",),
            max_block_size=cfg.max_block_size, salt_threshold=cfg.salt_threshold,
            salt_shards=cfg.salt_shards,
        )
        pairs = tr.materialize("pairs", cand)
    blocked.unpersist()
    tr.extra["pairs.naive_pairs"] = naive
    tr.extra["pairs.distinct_ratio"] = tr.rows["pairs"] / naive if naive else 0.0
    udf_rows = pairs.where(length_prefilter("doc_a", "doc_b", k, cfg.costs)).count()
    with tr.span("scoring"):
        scored = score_pairs(pairs, "doc_a", "doc_b", k=k, costs=cfg.costs,
                             sim_threshold=None).cache()
        n_scored, n_matches = _count_match(scored, cfg.sim_threshold)
        tr.rows["scoring"] += n_scored
    _scoring_extras(tr, udf_rows, n_matches)
    commit(scored, "pairs_scored", size_col="doc_a", id_col="id_a")
    commit(pairs, "candidates", size_col="doc_a", id_col="id_a")
    for fr in [pairs, *cand._persisted_frames]:
        fr.unpersist()
    matches = scored.where(F.col("sim") >= cfg.sim_threshold)
    commit(matches, "matches", id_col="id_a")
    with tr.span("clustering"):
        # resolve_entities routes every checkpointed job to the
        # distributed CC
        labels = connected_components(
            matches.select("id_a", "id_b"), checkpoint_dir=cfg.checkpoint_dir,
            max_iter=cfg.cc_max_iter, checkpoint_interval=cfg.cc_checkpoint_interval,
        )
        clusters = attach_singletons(labels, docs, "conv_id").cache()
        crow = clusters.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("cluster_id").alias("c")
        ).collect()[0]
        tr.rows["clustering"] += crow["n"]
    commit(clusters, "clusters", id_col="id")
    tr.extra["clustering.edges_in"] = n_matches
    tr.extra["clustering.clusters_out"] = crow["c"]
    tr.extra["clustering.rounds"] = check_cc_manifest(cfg)
    tr.extra["lineage.bytes_written"] = dir_bytes(cfg.metrics_dir)
    out = digest(clusters, "id", "cluster_id")
    for fr in (docs, scored, clusters):
        fr.unpersist()
    return out


def link(left, right, tr: Tracer):
    """``linkage.link_records`` with minhash blocking, per-pair k and the
    best left partner per right record."""
    cfg = LinkConfig(sim_threshold=LINK_SIM)

    def block(df):
        return with_minhash_blocks(df, "text", q=cfg.q, num_hashes=cfg.num_hashes,
                                   num_bands=cfg.num_bands, id_col="id")

    with tr.span("blocking"):
        bl = tr.materialize("blocking", block(left))
        br = tr.materialize("blocking", block(right))
    sizes = bl.groupBy("block_key").agg(F.count(F.lit(1)).alias("l")).join(
        br.groupBy("block_key").agg(F.count(F.lit(1)).alias("r")), "block_key"
    )
    naive = sizes.agg(F.sum(F.col("l") * F.col("r"))).collect()[0][0] or 0
    with tr.span("pairs"):
        cand = candidate_links(
            bl, br, id_col="id", block_col="block_key", payload_cols=("text",),
            payload_left=left, payload_right=right,
            max_block_pairs=cfg.max_block_pairs, salt_threshold=cfg.salt_threshold,
            salt_shards=cfg.salt_shards, prune_threshold=cfg.sim_threshold,
            prune_text_col="text", prune_costs=cfg.costs,
        )
        pairs = tr.materialize("pairs", cand)
    for fr in [bl, br, *cand._persisted_frames]:
        fr.unpersist()
    tr.extra["pairs.naive_pairs"] = naive
    tr.extra["pairs.distinct_ratio"] = tr.rows["pairs"] / naive if naive else 0.0
    k = relative_k_col(cfg.sim_threshold, "text_l", "text_r")
    udf_rows = pairs.where(length_prefilter("text_l", "text_r", k, cfg.costs)).count()
    with tr.span("scoring"):
        scored = score_pairs(pairs, "text_l", "text_r", k=k, costs=cfg.costs,
                             sim_threshold=None).cache()
        n_scored, n_matches = _count_match(scored, cfg.sim_threshold)
        tr.rows["scoring"] += n_scored
    pairs.unpersist()
    _scoring_extras(tr, udf_rows, n_matches)
    with tr.span("linkage"):
        w = Window.partitionBy("id_r").orderBy(
            F.col("sim").desc(), F.col("dist").asc(), F.col("id_l").asc()
        )
        best = tr.materialize("linkage", (
            scored.where(F.col("sim") >= cfg.sim_threshold)
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        ))
    out = digest(best, "id_l", "id_r", "dist", "sim")
    for fr in (scored, best):
        fr.unpersist()
    return out


def cleanse(spark, wl: CleanseLink, tr: Tracer):
    """``corpus.prepare_training_corpus`` with exact and MinHash near
    dedup (``dedup.dedup_near`` unrolled so its connected components
    is its own layer). Returns the kept documents and the frames that
    back them."""
    cfg = CleanseConfig(**CLEANSE_CFG)
    with tr.span("text"):
        docs = rebalance_small_scan(
            spark.read.parquet(wl.corpus_path).select(F.col("doc_id"), F.col("text"))
        )
        annotated = quality_features(docs.select("doc_id", "text"), "text").select(
            "doc_id", "text", token_count("text").alias("n_tokens"), "quality_score",
        )
        annotated = annotated.join(
            with_lang_id(docs, "text", "doc_id", out_col="lang_pred"), "doc_id"
        )
        # the config keeps every language, so validity and quality decide
        keep = (
            F.col("text").isNotNull()
            & (F.col("n_tokens") >= F.lit(cfg.min_tokens))
            & (F.col("quality_score") >= F.lit(cfg.quality_threshold))
        )
        flagged = annotated.select(
            "doc_id", "text", "n_tokens", "quality_score", "lang_pred",
            keep.alias("_keep"),
        ).persist()
        n_lang = flagged.agg(F.count(F.when(F.col("_keep"), 1))).collect()[0][0]
        tr.rows["text"] += n_lang
    with tr.span("dedup"):
        kept = dedup_exact(
            flagged.where(F.col("_keep")).drop("_keep"), "text", "doc_id"
        ).persist()
        kept.count()
        edges = minhash_lsh_duplicates(
            kept.select("doc_id", "text"), "text", "doc_id", q=cfg.q,
            num_hashes=cfg.num_hashes, num_bands=cfg.num_bands,
            jaccard_threshold=cfg.jaccard_threshold,
        )
        e = edges.select("id_a", "id_b").localCheckpoint(eager=True)
        for fr in edges._persisted_frames:
            fr.unpersist()
        n_edges = e.count()
    with tr.span("clustering"):
        if n_edges <= DEDUP_CC_LOCAL_THRESHOLD:
            labels = local_connected_components(e)
        else:
            labels = connected_components(e)
        labels = tr.materialize("clustering", labels)
    with tr.span("dedup"):
        drop = labels.where(F.col("id") != F.col("cluster_id")).select(
            F.col("id").alias("doc_id")
        )
        survivors = kept.select("doc_id", "text").join(drop, "doc_id", "left_anti").select(
            "doc_id", F.lit(True).alias("_nd")
        )
        flagged_near = kept.join(survivors, "doc_id", "left").persist()
        row = flagged_near.agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count(F.when(F.col("_nd"), 1)).alias("n_near"),
        ).collect()[0]
        final = flagged_near.where(F.col("_nd")).drop("_nd")
    tr.rows["dedup"] += row["n_near"]
    tr.extra["dedup.edges_out"] = n_edges
    tr.extra["dedup.exact_dropped"] = n_lang - row["n_exact"]
    tr.extra["dedup.near_dropped"] = row["n_exact"] - row["n_near"]
    tr.extra["clustering.edges_in"] = n_edges
    tr.extra["clustering.clusters_out"] = labels.select("cluster_id").distinct().count()
    return final, (flagged, kept, labels, flagged_near)


def cleanse_link(spark, wl: CleanseLink, rep_dir: str, tr: Tracer):
    """The corpus cleansing, then the linkage."""
    kept, frames = cleanse(spark, wl, tr)
    out = digest(kept, "doc_id")
    for fr in frames:
        fr.unpersist()
    return out + link(*wl.link_tables(spark), tr)


COMPOSITIONS = {"er_resolve": er_resolve, "cleanse_link": cleanse_link}


def traced_run(spark, wl, work: str, entry_digest, job_s: float) -> dict:
    """Run the traced composition once; returns the driver-side half of
    the layer table plus ``_guard_ok``, the decomposition guard."""
    tr = Tracer(spark)
    rep_dir = os.path.join(work, "traced")
    os.makedirs(rep_dir)
    spark.sparkContext.setJobGroup(GROUP_PREFIX + CENSUS, CENSUS)
    out = COMPOSITIONS[wl.name](spark, wl, rep_dir, tr)
    spark.sparkContext.setLocalProperty(eventlog.GROUP_KEY, None)
    guard_ok = out == entry_digest
    if not guard_ok:
        print(f"decomposition guard failed: traced {out} vs entry point {entry_digest}")
    return {"wall": dict(tr.wall), "rows": dict(tr.rows), "extra": tr.extra,
            "job_s": job_s, "_guard_ok": guard_ok}


PER_LAYER_UNITS = {
    "wall_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_records": "count", "spill_mb": "MB",
    "failed_tasks": "count", "rows_out": "count",
}
EXTRA_UNITS = {
    "pairs.naive_pairs": "count", "pairs.distinct_ratio": "ratio",
    "scoring.udf_rows": "count", "scoring.scored_rows": "count",
    "scoring.match_rows": "count", "scoring.kernel_yield": "ratio",
    "scoring.pairs_per_s": "1/s", "scoring.python_s": "s",
    "scoring.arrow_sent_mb": "MB", "scoring.arrow_recv_mb": "MB",
    "clustering.edges_in": "count", "clustering.clusters_out": "count",
    "clustering.rounds": "count", "lineage.bytes_written": "bytes",
    "dedup.edges_out": "count", "dedup.exact_dropped": "count",
    "dedup.near_dropped": "count", "trace.overhead_s": "s",
}
MB = float(1 << 20)


def finish_layers(layers: dict, eventlog_dir: str) -> dict:
    """Join the driver-side spans with the event log of the stopped
    session into the per-layer metric table (every layer, zero where a
    workload does not run it)."""
    (path,) = glob.glob(os.path.join(eventlog_dir, "*"))
    groups = eventlog.fold_file(path)
    metrics = {}
    for layer in LAYERS:
        g = groups.get(GROUP_PREFIX + layer) or eventlog.empty_totals()
        values = {
            "wall_s": layers["wall"].get(layer, 0.0),
            "task_s": g["run_ms"] / 1e3,
            "cpu_s": g["cpu_ns"] / 1e9,
            "gc_s": g["gc_ms"] / 1e3,
            "shuffle_write_mb": g["shuffle_write_bytes"] / MB,
            "shuffle_read_records": g["shuffle_read_records"],
            "spill_mb": g["spill_bytes"] / MB,
            "failed_tasks": g["failed_tasks"],
            "rows_out": layers["rows"].get(layer, 0),
        }
        for name, v in values.items():
            metrics[f"{layer}.{name}"] = {"value": v, "unit": PER_LAYER_UNITS[name]}
    sc = groups.get(GROUP_PREFIX + "scoring") or eventlog.empty_totals()
    extra = dict(layers["extra"])
    extra["scoring.python_s"] = sc[eventlog.PYTHON_TIME] / 1e3
    extra["scoring.arrow_sent_mb"] = sc[eventlog.PYTHON_SENT] / MB
    extra["scoring.arrow_recv_mb"] = sc[eventlog.PYTHON_RECV] / MB
    extra["trace.overhead_s"] = sum(layers["wall"].values()) - layers["job_s"]
    for name, unit in EXTRA_UNITS.items():
        metrics[name] = {"value": extra.get(name, 0), "unit": unit}
    return metrics
