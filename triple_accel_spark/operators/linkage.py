"""Two-table record linkage: block -> candidate A x B join -> score ->
best-match assignment.

The self-join pipeline (``pipeline.resolve_entities``) deduplicates ONE
table; this module links records ACROSS two tables (the other classic
entity-resolution shape: match new/incoming records against a reference
corpus, reconcile two independently-collected datasets). Reference
parity: the scoring kernels are the same triple_accel edit-distance
family (levenshtein.rs / hamming.rs); the two-table plumbing is the
graft axis.

Candidate generation is ``candidate_links``, re-exported from
``operators.pairs``: the same salted block join, cross-band dedupe and
payload re-attach core as the self-join, with blocks measured by their
pair volume ``|L_b|·|R_b|`` and an optional early length prune.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from triple_accel_spark.kernels.costs import EditCosts, LEVENSHTEIN_COSTS
from triple_accel_spark.operators.blocking import (
    with_minhash_blocks,
    with_prefix_blocks,
)
from triple_accel_spark.operators.pairs import candidate_links
from triple_accel_spark.operators.scoring import relative_k_col, score_pairs
from triple_accel_spark.session import stage


@dataclass
class LinkConfig:
    """Configuration for ``link_records`` (defaults match
    ``pipeline.ResolveConfig`` where the stages are shared)."""

    q: int = 3
    num_hashes: int = 32
    num_bands: int = 16
    blocking: str = "minhash"  # or "prefix" (SQL-expressible, oracle-able)
    prefix_len: int = 16
    sim_threshold: float = 0.88
    costs: EditCosts = field(default_factory=lambda: LEVENSHTEIN_COSTS)
    # "edit" (normalized edit similarity; k is always per pair,
    # ceil((1-sim_threshold) * max(len_l, len_r))) or "jaro_winkler"
    # (the name-field comparator; no k — the Catalyst-native prune
    # becomes the JW length-ratio bound)
    scorer: str = "edit"
    max_block_pairs: int | None = 1_000_000
    salt_threshold: int = 4096
    salt_shards: int = 8


@dataclass
class LinkResult:
    pairs_scored: DataFrame
    matches: DataFrame
    best: DataFrame
    metrics: dict

    def unpersist(self, blocking: bool = True) -> None:
        self.pairs_scored.unpersist(blocking=blocking)

    def __enter__(self) -> "LinkResult":
        return self

    def __exit__(self, *exc) -> bool:
        self.unpersist()
        return False


def link_records(
    left: DataFrame,
    right: DataFrame,
    text_col: str = "text",
    id_col: str = "id",
    cfg: LinkConfig | None = None,
) -> LinkResult:
    """Link two record tables on fuzzy text similarity.

    Inputs carry ``(id_col, text_col)``; blocking keys are generated
    identically on both sides (two tables only collide when their keys
    agree, so the blocking function must be shared). Returns all scored
    candidate pairs, the pairs at/above ``sim_threshold``, and the
    single best left partner per right record (deterministic: max
    ``sim``, then min ``dist``, then min left id), the standard
    one-to-many assignment for matching incoming records against a
    reference corpus.
    """
    cfg = cfg or LinkConfig()
    metrics: dict = {}
    edit = cfg.scorer == "edit"

    def block(df):
        if cfg.blocking == "prefix":
            return with_prefix_blocks(df, text_col, prefix_len=cfg.prefix_len)
        return with_minhash_blocks(
            df, text_col, q=cfg.q, num_hashes=cfg.num_hashes,
            num_bands=cfg.num_bands, id_col=id_col,
        )

    pairs = candidate_links(
        block(left),
        block(right),
        id_col=id_col,
        block_col="block_key",
        payload_cols=(text_col,),
        # raw inputs are one row per id, so payloads re-attach from
        # them directly (skips one groupBy-dedup pass per side)
        payload_left=left,
        payload_right=right,
        max_block_pairs=cfg.max_block_pairs,
        salt_threshold=cfg.salt_threshold,
        salt_shards=cfg.salt_shards,
        # the scoring stage filters on exactly this bound anyway
        # (length_prefilter + relative_k_col), so the early prune is a
        # pure plan optimization. The prune bound is
        # edit-distance-specific: under the jaro_winkler scorer it
        # stays off and jw_length_bound prunes at scoring.
        prune_threshold=cfg.sim_threshold if edit else None,
        prune_text_col=text_col if edit else None,
        prune_costs=cfg.costs,
    )
    tl, tr = f"{text_col}_l", f"{text_col}_r"
    k = relative_k_col(cfg.sim_threshold, tl, tr) if edit else None
    scored = score_pairs(
        pairs, tl, tr, k=k, costs=cfg.costs, sim_threshold=None,
        scorer=cfg.scorer,
        # mirror the edit path's threshold-implied prune (there, k
        # NULLs out beyond-budget pairs even with the final filter
        # deferred): bound JW candidates by the length-ratio prune
        prune_threshold=(
            cfg.sim_threshold if cfg.scorer == "jaro_winkler" else None
        ),
    ).cache()
    with stage(scored.sparkSession, "scoring"):
        row = scored.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("sim") >= cfg.sim_threshold, 1)).alias("m"),
        ).collect()[0]
    metrics["n_pairs_scored"] = row["n"]
    metrics["n_matches"] = row["m"]
    for fr in getattr(pairs, "_persisted_frames", []):
        fr.unpersist()

    matches = scored.where(F.col("sim") >= cfg.sim_threshold)

    # groups are candidate lists per record — bounded by the block
    # cap, so the per-group sort is small; the shuffle is one
    # hash-partition on the right id (linear in match count)
    w = Window.partitionBy("id_r").orderBy(
        F.col("sim").desc(), F.col("dist").asc(), F.col("id_l").asc()
    )
    best = (
        matches.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return LinkResult(scored, matches, best, metrics)


def assign_to_clusters(
    clustered: DataFrame,
    new_records: DataFrame,
    text_col: str = "text",
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    cfg: LinkConfig | None = None,
) -> DataFrame:
    """Incrementally assign NEW records to an EXISTING clustering —
    the batch twin of ``streaming.stream_assign_clusters``: link each
    new record against the clustered corpus (blocking + scoring +
    best-match), inherit the best partner's cluster id above the
    threshold, and open a singleton cluster (labeled with the record's
    own id — callers keep id spaces disjoint) otherwise.

    ``clustered`` carries ``(id_col, text_col, cluster_col)`` — every
    member row, so a new record can match ANY member of a cluster, not
    only its representative. Returns one row per new record:
    ``(id, cluster_id, matched_id, dist, sim, is_new)``.

    Like the streaming operator, this is representative-shaped
    assignment, not a re-resolution: two new records that match each
    other but no existing cluster become two singletons. When that
    matters, run ``pipeline.resolve_entities`` on the union instead —
    incremental assignment is the O(new × corpus-candidates) path for
    appending to a settled clustering without touching it."""
    res = link_records(
        clustered.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")),
        new_records.select(F.col(id_col).alias("id"), F.col(text_col).alias("text")),
        cfg=cfg,
    )
    labels = clustered.select(
        F.col(id_col).alias("id_l"), F.col(cluster_col).alias("_cl")
    )
    best = res.best.join(labels, "id_l")
    out = (
        new_records.select(F.col(id_col).alias("id"))
        .join(best.withColumnRenamed("id_r", "id"), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("_cl"), F.col("id")).alias(cluster_col),
            F.col("id_l").alias("matched_id"),
            "dist", "sim",
            F.col("id_l").isNull().alias("is_new"),
        )
    )
    # the scored cache only backed the best-match computation here:
    # materialize the (narrow) assignment frame, then release it. The
    # result's own persist handle is exposed via _persisted_frames,
    # matching the candidate_pairs/candidate_links convention.
    out = out.persist()
    with stage(out.sparkSession, "linkage"):
        out.count()
    res.unpersist()
    out._persisted_frames = [out]
    return out
