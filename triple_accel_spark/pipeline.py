"""End-to-end entity resolution over transcript tables.

    scan -> assemble docs -> MinHash blocking -> salted ids-only pair
    self-join -> document attach -> length-prune -> vectorized
    edit-distance scoring -> threshold -> connected components
    (checkpointed) -> clusters + metrics + lineage sink

The stages are the Spark-native re-expression of the reference's
kernel family (BASELINE.json north_star); each stage is independently
importable from ``triple_accel_spark.operators``.

The metrics and the per-partition lineage rows cost no jobs of their
own: each stage's census rides on the action that materializes the
stage, and the sink is written from the driver. The one exception is
the candidate census of lineage mode (see ``resolve_entities``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from triple_accel_spark.kernels.costs import EditCosts, LEVENSHTEIN_COSTS
from triple_accel_spark.operators.assemble import assemble_documents
from triple_accel_spark.operators.blocking import (
    minhash_band_table,
    with_prefix_blocks,
)
from triple_accel_spark.operators.clustering import (
    attach_singletons,
    connected_components,
)
from triple_accel_spark.operators.lineage import (
    census_aggs,
    census_rows,
    partition_stats,
    write_stage_metrics,
)
from triple_accel_spark.operators.pairs import candidate_pairs
from triple_accel_spark.operators.scoring import relative_k_col, score_pairs
from triple_accel_spark.session import stage


@dataclass
class ResolveConfig:
    # blocking defaults tuned on the mutation-stress corpus: 16 bands
    # of 2 hashes with 3-gram shingles holds pairwise F1 = 1.0 at 8%
    # edit budget and 0.993 at 12% (8x2/q=4 dropped to 0.991/0.966),
    # at identical candidate-pair volume
    q: int = 3
    num_hashes: int = 32
    num_bands: int = 16
    # "minhash" (LSH bands — the recall-tuned default) or "prefix"
    # (normalized-prefix key: cheaper, deterministic, SQL-expressible —
    # also what the DuckDB-oracled driver queries use)
    blocking: str = "minhash"
    prefix_len: int = 16
    # scoring uses the reference's per-call k semantics: each pair's
    # budget is ceil((1-sim_threshold) * max(len_a, len_b))
    sim_threshold: float = 0.88
    max_block_size: int | None = 5000
    salt_threshold: int = 64
    salt_shards: int = 8
    costs: EditCosts = field(default_factory=lambda: LEVENSHTEIN_COSTS)
    checkpoint_dir: str | None = None
    cc_max_iter: int = 25
    cc_checkpoint_interval: int = 2
    # match graphs at or below this edge count cluster driver-locally
    # (union-find over one bounded collect); above it, the distributed
    # star contraction runs. n_matches is already counted for metrics,
    # so the routing costs nothing. 0 disables the local path.
    cc_local_threshold: int = 100_000
    metrics_dir: str | None = None  # per-partition lineage sink
    run_id: str = "run0"


@dataclass
class ResolveResult:
    docs: DataFrame
    pairs_scored: DataFrame
    matches: DataFrame
    clusters: DataFrame
    metrics: dict

    def unpersist(self, blocking: bool = True) -> None:
        """Release the caches backing the returned frames (``docs``,
        ``pairs_scored``, ``clusters``; ``matches`` is a filter over
        ``pairs_scored``). Call when done consuming the result —
        repeated ``resolve_entities`` invocations in one long-lived
        driver otherwise accumulate executor storage. Blocking by
        default so storage is verifiably flat on return. Also usable as
        a context manager: ``with resolve_entities(t) as res: ...``."""
        for df in (self.docs, self.pairs_scored, self.clusters):
            df.unpersist(blocking=blocking)

    def __enter__(self) -> "ResolveResult":
        return self

    def __exit__(self, *exc) -> bool:
        self.unpersist()
        return False


def resolve_entities(transcripts: DataFrame, cfg: ResolveConfig | None = None) -> ResolveResult:
    """Run the full pipeline; returns intermediate and final frames plus
    a driver-side metrics dict (stage row counts).

    Every stage count and, with ``metrics_dir``, every stage's
    per-partition lineage census comes from the action that already
    materializes the stage: the docs pin, the scored aggregate (which
    also carries the ``matches`` census) and the clusters pin, each
    grouped by ``spark_partition_id()``. The census rows are written to
    the sink from the driver. The one extra job of lineage mode is the
    ``candidates`` census, one scan of the candidate frame persisted for
    it."""
    cfg = cfg or ResolveConfig()
    metrics: dict = {}
    spark = transcripts.sparkSession
    pid = F.spark_partition_id().alias("partition_id")

    # a stage's census rows: written to the sink in lineage mode; the
    # stage's row count is returned either way
    def commit(name, rows, prefix=""):
        rows = census_rows(rows, prefix)
        if cfg.metrics_dir:
            metrics[f"lineage_{name}"] = write_stage_metrics(
                rows, name, cfg.metrics_dir, run_id=cfg.run_id
            )
        return sum(r[1] for r in rows)

    docs = assemble_documents(transcripts).cache()
    # the docs cache is materialized HERE, by the census that also gives
    # the n_docs metric: blocking, the candidate machinery, the payload
    # attach and the clusters all fan out from `docs`, and with a cold
    # cache concurrent branches each re-run the assemble aggregation
    # (Spark's block cache does not serialize concurrent cold computes)
    with stage(spark, "assemble"):
        rows = partition_stats(docs, "docs", size_col="doc", id_col="conv_id").collect()
    metrics["n_docs"] = commit("docs", rows)
    # per-pair distance budget (reference per-call k semantics)
    k = relative_k_col(cfg.sim_threshold, "doc_a", "doc_b")
    metrics["k_cutoff"] = "per_pair"

    # the candidate join carries ids only; each side's document comes
    # from the cached docs afterwards, not copied into every band row
    if cfg.blocking == "prefix":
        keys = with_prefix_blocks(docs, "doc", prefix_len=cfg.prefix_len)
    else:
        keys = minhash_band_table(
            docs, "conv_id", "doc", q=cfg.q, num_hashes=cfg.num_hashes,
            num_bands=cfg.num_bands,
        )
    ids = candidate_pairs(
        keys,
        id_col="conv_id",
        block_col="block_key",
        payload_cols=(),
        max_block_size=cfg.max_block_size,
        salt_threshold=cfg.salt_threshold,
        salt_shards=cfg.salt_shards,
    )
    pairs = ids
    for s in ("a", "b"):
        pairs = pairs.join(
            docs.select(F.col("conv_id").alias(f"id_{s}"), F.col("doc").alias(f"doc_{s}")),
            f"id_{s}",
        )
    pairs = pairs.select("id_a", "id_b", "doc_a", "doc_b")
    if cfg.metrics_dir:
        # the candidate census below scans this cache instead of
        # re-running blocking, the block join and the doc attach
        pairs = pairs.persist()

    scored = score_pairs(
        pairs,
        "doc_a",
        "doc_b",
        k=k,
        costs=cfg.costs,
        sim_threshold=None,
    ).cache()
    matched = F.col("sim") >= cfg.sim_threshold
    # one action materializes the cache and takes the census of both
    # pairs_scored and its filter matches (same partitions)
    with stage(spark, "scoring"):
        rows = scored.groupBy(pid).agg(
            *census_aggs(size_col="doc_a", id_col="id_a"),
            *census_aggs(id_col="id_a", where=matched, prefix="m_"),
        ).collect()
    metrics["n_pairs_scored"] = commit("pairs_scored", rows)
    if cfg.metrics_dir:
        # the pre-cutoff candidate census makes the PRUNE count a
        # recorded lineage fact (north-rule metric rows: pairs scored,
        # prunes, cluster merges) instead of prose. n_pruned counts
        # candidates dropped by the k cutoff end to end — the Catalyst
        # length prefilter plus the kernel's bound/band rejects.
        with stage(spark, "lineage"):
            crows = partition_stats(pairs, "candidates", size_col="doc_a", id_col="id_a").collect()
        pairs.unpersist()
        metrics["n_candidates"] = commit("candidates", crows)
        metrics["n_pruned"] = metrics["n_candidates"] - metrics["n_pairs_scored"]
    # scored is materialized in its own cache now — release the pair
    # join's internal persist, so repeated invocations in one driver do
    # not accumulate caches
    for fr in ids._persisted_frames:
        fr.unpersist()

    matches = scored.where(matched)
    metrics["n_matches"] = commit("matches", rows, prefix="m_")

    if metrics["n_matches"] <= cfg.cc_local_threshold and not cfg.checkpoint_dir:
        # bounded small-graph fast path (see local_connected_components);
        # checkpointed jobs always take the resumable distributed path
        from triple_accel_spark.operators.clustering import (
            local_connected_components,
        )

        labels = local_connected_components(matches.select("id_a", "id_b"))
        metrics["cc_path"] = "local"
    else:
        labels = connected_components(
            matches.select("id_a", "id_b"),
            checkpoint_dir=cfg.checkpoint_dir,
            max_iter=cfg.cc_max_iter,
            checkpoint_interval=cfg.cc_checkpoint_interval,
        )
        metrics["cc_path"] = "distributed"
    clusters = attach_singletons(labels, docs, "conv_id").cache()
    # each cluster is labelled by its minimum id, a member labelling
    # itself, so the clusters are the rows with id == cluster_id
    with stage(spark, "clustering"):
        rows = clusters.groupBy(pid).agg(
            *census_aggs(id_col="id"),
            F.count(F.when(F.col("id") == F.col("cluster_id"), 1)).alias("n_roots"),
        ).collect()
    metrics["n_records"] = commit("clusters", rows)
    metrics["n_clusters"] = sum(r["n_roots"] for r in rows)

    return ResolveResult(docs, scored, matches, clusters, metrics)
