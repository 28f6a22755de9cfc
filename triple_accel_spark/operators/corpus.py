"""Training-corpus preparation: the composite cleanse endpoint a
large-scale LLM data pipeline runs over raw documents.

``prepare_training_corpus`` chains the engine's row-local quality
primitives with its dedup operators in the standard order:

    validity (non-NULL, token floor)
      -> quality score threshold
      -> language filter
      -> exact dedup (min-id representative per content digest)
      -> near dedup (MinHash-LSH, min-id per connected component)

Every stage is one of the independently hash-verified operators
(``text.quality_features``, ``text.with_lang_id``, ``dedup.dedup_exact``,
``dedup.dedup_near``), so the COMPOSITE is SQL-replayable end to end —
the ``corpus_cleanse_docs`` driver query hash-verifies the whole chain
against DuckDB. The cleanse's near dedup is always the MinHash route;
the SimHash and embedding routes are ``dedup_near(method=...)``.

Scale shape: the row-local stages are pure whole-stage-codegen
projections/filters computed in ONE pass (flags, not sequential
filters), so stage metrics cost one aggregate over a single scan; the
dedup stages reuse the bucketed/salted/capped candidate machinery.
Metrics report rows surviving each stage — the numbers a data-curation
run is monitored by.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from triple_accel_spark.operators.blocking import rebalance_small_scan
from triple_accel_spark.operators.dedup import dedup_exact, dedup_near
from triple_accel_spark.operators.text import (
    quality_features,
    token_count,
    with_lang_id,
)
from triple_accel_spark.session import stage


@dataclass
class CleanseConfig:
    min_tokens: int = 5  # regex-token floor (0 disables)
    quality_threshold: float | None = 0.5  # None disables
    langs: tuple[str, ...] | None = None  # keep-list; None keeps all
    # MinHash near-dedup settings (see dedup.dedup_near; the SimHash
    # and embedding routes are called through dedup_near directly)
    q: int = 5
    num_hashes: int = 32
    num_bands: int = 16
    jaccard_threshold: float = 0.8


@dataclass
class CleanseResult:
    kept: DataFrame  # (id, text, n_tokens, quality_score, lang_pred)
    metrics: dict = field(default_factory=dict)
    _persisted_frames: list = field(default_factory=list)

    def unpersist(self, blocking: bool = True) -> None:
        """Release the cache backing ``kept``'s lineage (same lifecycle
        contract as ``ResolveResult``; also usable as a context
        manager)."""
        for fr in self._persisted_frames:
            fr.unpersist(blocking=blocking)

    def __enter__(self) -> "CleanseResult":
        return self

    def __exit__(self, *exc) -> bool:
        self.unpersist()
        return False


def prepare_training_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cfg: CleanseConfig | None = None,
) -> CleanseResult:
    """Run the cleanse chain; returns the surviving rows plus per-stage
    survivor counts (``n_input``, ``n_valid``, ``n_quality``,
    ``n_lang``, ``n_exact``, ``n_near`` — each counts rows surviving
    that stage AND all earlier ones).

    NULL policy: a NULL document carries no trainable content and is
    dropped by the validity stage — the cleanse DROPS what the dedup
    operators alone would keep (their contract is "never drop a
    non-duplicate"; a cleanse's contract is "keep only trainable
    rows")."""
    cfg = cfg or CleanseConfig()
    metrics: dict = {}

    # one conditional rebalance of the narrow projection feeds every
    # row-local stage: the quality regexes and token counts otherwise
    # run inside a one-split scan stage on tiny inputs (serial wall;
    # no-op at scale — see rebalance_small_scan)
    docs = rebalance_small_scan(docs.select(F.col(id_col), F.col(text_col)))

    annotated = quality_features(
        docs.select(F.col(id_col), F.col(text_col)), text_col
    ).select(
        F.col(id_col), F.col(text_col),
        token_count(text_col).alias("n_tokens"),
        F.col("quality_score"),
    )
    lang = with_lang_id(docs, text_col, id_col, out_col="lang_pred")
    annotated = annotated.join(lang, id_col)

    # row-local stages as FLAGS so all their metrics come from one
    # aggregate over one scan (sequential filters would re-scan or
    # re-cache per stage)
    p_valid = F.col(text_col).isNotNull() & (
        F.col("n_tokens") >= F.lit(cfg.min_tokens)
    )
    p_quality = p_valid if cfg.quality_threshold is None else (
        p_valid & (F.col("quality_score") >= F.lit(cfg.quality_threshold))
    )
    p_lang = p_quality if cfg.langs is None else (
        p_quality & F.col("lang_pred").isin(*cfg.langs)
    )
    flagged = annotated.select(
        id_col, text_col, "n_tokens", "quality_score", "lang_pred",
        p_valid.alias("_pv"), p_quality.alias("_pq"), p_lang.alias("_pl"),
    ).persist()
    with stage(docs.sparkSession, "text"):
        counts = flagged.agg(
            F.count(F.lit(1)).alias("n_input"),
            F.count(F.when(F.col("_pv"), 1)).alias("n_valid"),
            F.count(F.when(F.col("_pq"), 1)).alias("n_quality"),
            F.count(F.when(F.col("_pl"), 1)).alias("n_lang"),
        ).collect()[0]
    metrics.update(counts.asDict())

    kept = flagged.where(F.col("_pl")).drop("_pv", "_pq", "_pl")
    # persisted BEFORE near-dedup consumes it, so the exact-dedup join
    # executes exactly once per cleanse: dedup_near's eager interior
    # materializes this cache, and every later consumer (the survivor
    # flag join, the caller's reads of res.kept) reads from it instead
    # of replaying the join
    exact = dedup_exact(kept, text_col, id_col).persist()
    survivors = dedup_near(
        exact.select(id_col, text_col), text_col, id_col,
        q=cfg.q, num_hashes=cfg.num_hashes, num_bands=cfg.num_bands,
        jaccard_threshold=cfg.jaccard_threshold,
    ).select(F.col(id_col), F.lit(True).alias("_nd"))
    # LEFT join keeps every post-exact row with a survivor flag: ONE
    # persisted frame + ONE action yields both stage counts (n_exact =
    # all rows, n_near = flagged rows) and backs the returned `kept`,
    # so the survivor join also runs exactly once
    flagged_near = exact.join(survivors, id_col, "left").persist()
    with stage(docs.sparkSession, "dedup"):
        counts = flagged_near.agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count(F.when(F.col("_nd"), 1)).alias("n_near"),
        ).collect()[0]
    metrics.update(counts.asDict())
    # the persisted frames stay cached: the returned frame derives from
    # them, so the caller consumes `kept` then releases via
    # CleanseResult.unpersist (context-manager form supported) — same
    # contract as ResolveResult
    return CleanseResult(
        kept=flagged_near.where(F.col("_nd")).drop("_nd"), metrics=metrics,
        _persisted_frames=[flagged, exact, flagged_near],
    )
