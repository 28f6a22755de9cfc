"""Candidate generation: the salted block join behind both the
self-join (``candidate_pairs``) and the two-table join
(``candidate_links``).

Both shapes run one core, ``_block_join``: the join of a left and a
right base on the block key, carrying ids only, then a pinned cross-band
dedupe, then the payload re-attach. A self-join is the two-table join of
one persisted base with itself plus the condition ``rid_l < rid_r``, so
each unordered pair comes out exactly once and already canonical
(``id_a < id_b``).

* **block census** — each block gets one measure: its record count
  ``n`` for a self-join (live at ``n >= 2``, capped by
  ``max_block_size``), its pair volume ``|L|·|R|`` for a link (live
  when both sides are non-empty, capped by ``max_block_pairs``). Blocks
  over the cap are dropped entirely (an over-populated key is an
  uninformative blocking key; standard ER practice).
* **salted sharding** — a block whose measure exceeds
  ``salt_threshold`` is split: the right side is sharded by
  ``xxhash64(id) % s`` and the left side replicated across the block's
  ``s`` shards, so one hot key becomes ``s`` balanced keys and every
  (left, right) pair still meets exactly once (the skew rule of
  *Scalable Metric Similarity Join Using MapReduce*, ICDE 2019). Spark
  AQE's skew-join splitting cannot do this for a key whose output is
  quadratic in its input.

Hot-block trade in a self-join: the one-sided salt writes the same
shuffle rows as a shard triangle would (about ``(s+1)·n``, ``9n`` at
``s = 8``), evaluates about 1.8x more join-condition comparisons (half
of each key's ordered pairs fail ``rid_l < rid_r``), and each of its
``s`` keys emits about ``n²/2s`` pairs where a triangle key emits about
``n²/s²``.

No document/vector bytes cross the quadratic part of the plan: payload
columns are re-attached per side after the dedupe, so the widest
payload-bearing shuffle is linear in the record count, not the pair
count. Payload columns must be functionally dependent on the id (record
attributes repeated per band), which every caller satisfies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from triple_accel_spark.functions import max_length_gap, pair_budget
from triple_accel_spark.kernels.costs import EditCosts, LEVENSHTEIN_COSTS
from triple_accel_spark.session import stage


def _persisted_base(
    blocked: DataFrame, id_col: str, block_col: str, cols: list
) -> DataFrame:
    """Persist ``(rid, bk, *cols)`` of a blocked frame and pin it warm.

    One projection feeds every consumer (census, both join roles,
    payload frame), so the upstream blocking lineage is evaluated once.
    The cache is in-memory columnar: id/key-only reads prune the payload
    columns at the cache scan. The pin is eager because the consumers
    fan out into concurrent AQE stages, and Spark's block cache does not
    serialize concurrent cold computes (profiled runs evaluated the
    whole blocking lineage 2-4x in racing branches); the one pass is
    work every consumer needs anyway."""
    base = blocked.select(
        F.col(id_col).alias("rid"), F.col(block_col).alias("bk"), *cols
    ).persist()
    with stage(blocked.sparkSession, "pairs"):
        base.count()
    return base


def _per_record(base: DataFrame, payload_cols: tuple[str, ...]) -> DataFrame:
    """One ``(rid, payload...)`` row per id, from a map-side-combinable
    ``first`` aggregation over the band rows."""
    return base.groupBy("rid").agg(*[F.first(c).alias(c) for c in payload_cols])


def _block_join(
    left: DataFrame,
    right: DataFrame,
    census: DataFrame,
    sides: tuple[str, str],
    salt_threshold: int,
    salt_shards: int,
    payloads: tuple[DataFrame, DataFrame] | None,
    payload_cols: tuple[str, ...],
    ordered: bool = False,
    prune: tuple[float, EditCosts] | None = None,
) -> DataFrame:
    """Salted join of two ``(rid, bk[, _len])`` bases on the live blocks
    of ``census`` (``bk, vol``), deduped across bands, with payloads
    re-attached: ``id_<l>, id_<r>, <payload>_<l>..., <payload>_<r>...``
    for ``sides = (l, r)``.

    ``ordered`` keeps only ``rid_l < rid_r`` (the self-join). ``prune =
    (t, costs)`` keeps only pairs whose ``_len`` gap fits the per-pair
    budget of ``scoring.length_prefilter(relative_k_col(t))``."""
    id_l, id_r = (f"id_{s}" for s in sides)
    lens = ["_len"] if prune else []
    hot = F.col("vol") > salt_threshold
    # right role: each record lands in its own shard (hot) or shard 0
    r = right.select("rid", "bk", *lens).join(census, "bk").select(
        "bk",
        F.when(hot, F.pmod(F.xxhash64(F.col("rid")), F.lit(salt_shards)))
        .otherwise(F.lit(0))
        .alias("shard"),
        F.col("rid").alias("rid_r"),
        *[F.col(c).alias(f"{c}_r") for c in lens],
    )
    # left role: replicated across all live shards of the block
    l = left.select("rid", "bk", *lens).join(census, "bk").select(
        "bk",
        F.explode(
            F.sequence(
                F.lit(0), F.when(hot, F.lit(salt_shards - 1)).otherwise(F.lit(0))
            )
        ).alias("shard"),
        F.col("rid").alias("rid_l"),
        *[F.col(c).alias(f"{c}_l") for c in lens],
    )
    joined = l.join(r, ["bk", "shard"])
    if ordered:
        joined = joined.where(F.col("rid_l") < F.col("rid_r"))
    if prune:
        # scoring's length_prefilter(relative_k_col(t)) on the
        # precomputed ints: prune BEFORE the dedupe and payload joins
        threshold, costs = prune
        len_l, len_r = F.col("_len_l"), F.col("_len_r")
        gap = max_length_gap(pair_budget(threshold, len_l, len_r), costs)
        joined = joined.where(F.abs(len_l - len_r) <= gap)
    pairs = joined.select(F.col("rid_l").alias(id_l), F.col("rid_r").alias(id_r))

    # A pair found by several bands must be scored once. The keyed
    # repartition pins the dedupe exchange at defaultParallelism: the
    # ids-only rows are tiny (16 B/pair), so AQE's byte-based coalescing
    # collapsed this exchange to 1-2 partitions, and the payload
    # re-attach and the caller's kernel UDF inherited that near-serial
    # partitioning (link_records scoring on 1.58M pairs: 17.9-21.9 s
    # starved, 9.3-16.0 s pinned). The repartition satisfies the
    # dedupe's distribution, so it replaces the implicit exchange. It
    # also moves the whole aggregate above it: map-side partial dedup is
    # given up and cross-band duplicates (up to one per band) cross the
    # network. That trade was measured as a net win at ~1.6M pairs; a
    # corpus with much heavier band duplication may need it re-measured.
    n_out = pairs.sparkSession.sparkContext.defaultParallelism
    pairs = pairs.repartition(n_out, id_l, id_r).dropDuplicates()

    if payloads is not None:
        for s, p in zip(sides, payloads):
            pairs = pairs.join(
                p.select(
                    F.col("rid").alias(f"id_{s}"),
                    *[F.col(c).alias(f"{c}_{s}") for c in payload_cols],
                ),
                f"id_{s}",
            )
        pairs = pairs.select(
            id_l, id_r, *[f"{c}_{s}" for c in payload_cols for s in sides]
        )
    return pairs


def candidate_pairs(
    blocked: DataFrame,
    id_col: str = "conv_id",
    block_col: str = "block_key",
    payload_cols: tuple[str, ...] = ("doc",),
    max_block_size: int | None = 2000,
    salt_threshold: int = 64,
    salt_shards: int = 8,
) -> DataFrame:
    """Self-join records sharing a block key into scored-pair candidates.

    Returns one row per unordered pair: ``id_a, id_b, <payload>_a,
    <payload>_b`` with ``id_a < id_b``. A block is live at 2 or more
    records and dropped above ``max_block_size``; it is salted above
    ``salt_threshold`` records.

    Persist lifecycle: the projected input and the per-record payload
    frame (consumed by both attach joins) are persisted. The handles are
    exposed as ``result._persisted_frames`` so callers that materialize
    the pairs (e.g. ``pipeline.resolve_entities``) can unpersist them;
    long-lived drivers calling this repeatedly should do so.
    """
    base = _persisted_base(blocked, id_col, block_col, list(payload_cols))
    persisted = [base]
    payloads = None
    if payload_cols:
        per_record = _per_record(base, payload_cols).persist()
        persisted.append(per_record)
        payloads = (per_record, per_record)
    census = base.groupBy("bk").agg(F.count(F.lit(1)).alias("vol"))
    if max_block_size is not None:
        census = census.where(F.col("vol") <= max_block_size)
    census = census.where(F.col("vol") >= 2)
    pairs = _block_join(
        base, base, census, ("a", "b"), salt_threshold, salt_shards,
        payloads, payload_cols, ordered=True,
    )
    pairs._persisted_frames = persisted
    return pairs


def candidate_links(
    blocked_left: DataFrame,
    blocked_right: DataFrame,
    id_col: str = "id",
    block_col: str = "block_key",
    payload_cols: tuple[str, ...] = ("text",),
    max_block_pairs: int | None = 1_000_000,
    salt_threshold: int = 4096,
    salt_shards: int = 8,
    prune_threshold: float | None = None,
    prune_text_col: str | None = None,
    prune_costs: EditCosts = LEVENSHTEIN_COSTS,
    payload_left: DataFrame | None = None,
    payload_right: DataFrame | None = None,
) -> DataFrame:
    """Join left x right records sharing a block key into candidate
    links: one row per (left, right) pair — ``id_l, id_r,
    <payload>_l..., <payload>_r...``.

    Both inputs carry ``id_col``, ``block_col`` and the payload columns
    (payloads functionally dependent on the id — attributes repeated
    per band). Ids need not be disjoint across tables: the pair keeps
    table roles, no cross-table canonicalization, so the same frame on
    both sides yields every ordered pair including ``(x, x)``. A block
    is live when both sides are non-empty and dropped above
    ``max_block_pairs`` = ``|L_b|·|R_b|``; it is salted above
    ``salt_threshold`` of the same volume.

    Early length prune (``prune_threshold`` + ``prune_text_col``): a
    pair can only reach similarity ``t`` on column ``c`` if
    ``gap_cost * |len_l - len_r| + start_gap <= (1-t) *
    greatest(len_l, len_r)`` — exactly the bound
    ``scoring.score_pairs`` applies via ``length_prefilter`` +
    ``relative_k_col``, so pruning here changes nothing downstream
    when the caller scores with a per-pair relative k. Applying it on
    fixed-width length ints BEFORE the cross-band dedupe and the
    payload re-attach keeps length-incompatible pairs (the bulk of LSH
    false candidates on a mixed-length corpus) out of the distinct
    shuffle and the payload joins entirely.

    Persist lifecycle: the per-side projections (feeding the volume
    census, the join, and — without ``payload_left``/``payload_right``
    — the payload re-attach) are persisted and exposed as
    ``result._persisted_frames`` for callers that materialize the pairs
    to release.

    ``payload_left``/``payload_right``: one-row-per-id frames carrying
    ``(id_col, payload_cols...)`` — normally the caller's raw input
    tables. When given, payloads re-attach from them directly and the
    per-side ``groupBy(rid).first(...)`` aggregations (one full pass
    over each band table) are skipped; results are identical because
    the blocked payloads are the same attributes repeated per band.
    """
    prune = prune_threshold is not None and prune_text_col is not None
    ext_payloads = payload_left is not None and payload_right is not None
    cols = [
        *([] if ext_payloads else payload_cols),
        *([F.length(prune_text_col).alias("_len")] if prune else []),
    ]
    left = _persisted_base(blocked_left, id_col, block_col, cols)
    right = _persisted_base(blocked_right, id_col, block_col, cols)

    # |L_b| * |R_b| from ONE aggregation over the tagged union of both
    # sides; a block missing on a side has a zero count
    tagged = left.select("bk", F.lit(1).alias("_l")).unionByName(
        right.select("bk", F.lit(0).alias("_l"))
    )
    census = (
        tagged.groupBy("bk")
        .agg(
            F.sum("_l").alias("lsz"),
            F.sum(F.lit(1) - F.col("_l")).alias("rsz"),
        )
        .where((F.col("lsz") > 0) & (F.col("rsz") > 0))
        .select("bk", (F.col("lsz") * F.col("rsz")).alias("vol"))
    )
    if max_block_pairs is not None:
        census = census.where(F.col("vol") <= max_block_pairs)

    payloads = None
    if payload_cols and ext_payloads:
        payloads = tuple(
            p.select(F.col(id_col).alias("rid"), *payload_cols)
            for p in (payload_left, payload_right)
        )
    elif payload_cols:
        payloads = (_per_record(left, payload_cols), _per_record(right, payload_cols))
    pairs = _block_join(
        left, right, census, ("l", "r"), salt_threshold, salt_shards,
        payloads, payload_cols,
        prune=(prune_threshold, prune_costs) if prune else None,
    )
    pairs._persisted_frames = [left, right]
    return pairs


def block_stats(blocked: DataFrame, block_col: str = "block_key") -> DataFrame:
    """Block-size distribution for skew diagnostics / metrics sink."""
    sizes = blocked.groupBy(block_col).agg(F.count(F.lit(1)).alias("bsz"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.max("bsz").alias("max_block"),
        F.expr("percentile_approx(bsz, 0.99)").alias("p99_block"),
        F.sum(F.expr("bsz * (bsz - 1) / 2")).alias("naive_pairs"),
    )


def blocking_quality(
    cand_pairs: DataFrame,
    truth_pairs: DataFrame,
    total_possible_pairs: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Standard blocking diagnostics as one row: **pair completeness**
    (fraction of ground-truth matching pairs that survive blocking —
    the recall ceiling of everything downstream) and **reduction
    ratio** (1 − candidates / total possible pairs — what blocking
    bought). Tuning blocking IS trading these two; the pipeline's
    headline F1 cannot exceed the pair completeness measured here.

    Both inputs carry ``(id_a, id_b)`` under the caller's pair
    convention (canonicalized ``id_a < id_b`` for self-join dedup,
    table-role order for two-table linkage). ``total_possible_pairs``
    is ``n(n-1)/2`` or ``|L|·|R|`` respectively — a driver-side scalar
    the caller already has. One semi-join and two counts; no payloads
    shuffled."""
    cand = cand_pairs.select(id_a, id_b)
    truth = truth_pairs.select(id_a, id_b)
    covered = truth.join(cand, [id_a, id_b], "left_semi")
    row = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(covered.agg(F.count(F.lit(1)).alias("n_covered")))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
    )
    return row.select(
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("n_covered").cast("long").alias("n_covered"),
        (
            F.col("n_covered").cast("double")
            / F.greatest(F.col("n_truth"), F.lit(1)).cast("double")
        ).alias("pair_completeness"),
        (
            F.lit(1.0)
            - F.col("n_candidates").cast("double")
            / F.lit(float(max(total_possible_pairs, 1)))
        ).alias("reduction_ratio"),
    )
