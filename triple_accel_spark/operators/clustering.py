"""Transitive clustering: connected components over the match-edge
graph, via alternating large-star / small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond" — the standard
shuffle-bounded CC for web-scale graphs; converges in O(log^2 n) rounds
vs O(diameter) for plain label propagation).

Each round is two window passes expressed purely in DataFrame ops (no
collect_list — hot nodes stay scalable because the per-node minimum is
an aggregation, not a materialized neighbor list).

Convergence: the contraction's fixed points are exactly the star
forests (every node points at its component minimum, and no minimum
points anywhere). Each checkpoint tests its edge set for that shape in
the same action that counts and checksums it, so the loop stops at the
first checkpoint that reaches the fixed point instead of paying a
second interval to see two equal checkpoints. The test reads the
per-node neighborhoods the next round starts from, and that round
reuses them, so only the final checkpoint shuffles for the test alone.

Checkpoint/resume: every checkpointed iteration writes the current edge
set to ``{checkpoint_dir}/iter_NNNN`` plus a ``manifest.json``; a
restarted job resumes from the highest committed iteration (north-rule
requirement: resumable from checkpoint), and one whose last entry is
converged only relabels it. Each manifest entry records the
iteration's edge count, checksum and converged flag. Parquet round-trips
also cut lineage so plans don't grow across iterations.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from triple_accel_spark.session import stage


def _neighborhoods(edges: DataFrame) -> DataFrame:
    """Both directions ``(u, v)`` of every edge, each row carrying its
    node ``u``'s neighborhood minimum ``m`` and degree ``deg``.

    Plan shape: the per-node minimum is a window over the node's
    partitioning (operations keyed alike share one exchange), and both
    edge directions come from one explode, so the edge RDD is scanned
    once. One shuffle; the degree rides on the same window. This is the
    first half of ``_large_star`` and, on a checkpointed edge set, the
    input of the convergence test (``_checkpoint_stats``), so a
    checkpoint pays that shuffle once for both."""
    w = Window.partitionBy("u")
    bid = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                F.struct(F.col("v").alias("a"), F.col("u").alias("b")),
            )
        ).alias("_e")
    ).select(F.col("_e.a").alias("u"), F.col("_e.b").alias("v"))
    return bid.select(
        "u", "v", F.min("v").over(w).alias("m"), F.count(F.lit(1)).over(w).alias("deg")
    )


def _large_star(nbhd: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to u's neighborhood
    minimum (including u itself), from ``_neighborhoods`` rows.

    The output is NOT deduplicated here: the following ``_small_star``
    dedupes its own output, so a round stays distinct while saving one
    exchange per round (duplicate (v, m) rows only thicken the next
    window's input marginally)."""
    return nbhd.where(F.col("v") > F.col("u")).select(
        F.col("v").alias("u"), F.least("m", "u").alias("v")
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Within each node's smaller-or-equal neighborhood, point everything
    at the minimum.

    Same one-exchange window form as ``_large_star``; the (u, m)
    self-rows the old formulation emitted once per node via the
    ``mins`` frame are emitted once per edge row here and collapsed by
    the final ``distinct`` (which the round needs anyway), so the
    output set is identical."""
    w = Window.partitionBy("u")
    dir_e = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    r = dir_e.withColumn("m", F.min("v").over(w))
    return (
        r.select(F.explode(F.array("v", "u")).alias("n"), "m")
        .where(F.col("n") != F.col("m"))
        .distinct()
        .select(F.col("n").alias("u"), F.col("m").alias("v"))
    )


def _checkpoint_stats(nbhd: DataFrame) -> tuple[int, int, bool]:
    """``(n_edges, checksum, converged)`` of a checkpointed edge set in
    one action, from its ``_neighborhoods`` rows: a global aggregate
    with no exchange of its own.

    Every edge leaving ``_small_star`` has ``u > v``, so the edge set
    is the rows with ``v < u``, and a node has an out-edge exactly when
    its neighborhood minimum is below it. The star contraction's fixed
    points are exactly the star forests: each ``u`` has one edge and no
    ``v`` is itself a ``u``, i.e. every node with an out-edge has
    degree 1. That decides convergence exactly, with no second
    checkpoint to compare."""
    edge = F.col("v") < F.col("u")
    row = nbhd.agg(
        F.count(F.when(edge, 1)).alias("n"),
        # xor-fold is order-insensitive and cannot overflow (edges are
        # distinct after _small_star, so xor cancellation is safe)
        F.coalesce(F.bit_xor(F.when(edge, F.xxhash64("u", "v"))), F.lit(0)).alias("h"),
        F.count(F.when((F.col("m") < F.col("u")) & (F.col("deg") > 1), 1)).alias("bad"),
    ).collect()[0]
    return int(row["n"]), int(row["h"]), row["bad"] == 0


def _manifest_path(d: str) -> str:
    return os.path.join(d, "manifest.json")


def _read_manifest(d: str) -> dict | None:
    p = _manifest_path(d)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None


def _write_manifest(d: str, payload: dict) -> None:
    tmp = _manifest_path(d) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
    os.replace(tmp, _manifest_path(d))


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    checkpoint_dir: str | None = None,
    max_iter: int = 25,
    checkpoint_interval: int = 2,
) -> DataFrame:
    """Return ``(id, cluster_id)`` where ``cluster_id`` is the minimum
    id in each component (deterministic — reruns are idempotent).

    Ids may be any orderable type (strings work). Nodes appearing only
    as singletons must be unioned in by the caller (see
    ``attach_singletons``).

    ``checkpoint_interval`` star rounds run between driver ACTIONS
    (convergence test / durable checkpoint): every round is still
    lazily local-checkpointed — a LogicalRDD barrier that keeps the
    logical plan constant-size (each star pass references its input
    4x, so un-truncated lineage grows ~4^rounds and planning time
    explodes) — but only interval rounds pay a job: the checkpoint
    action materializes everything since the last one. That one action
    returns the edge count, the checksum and the convergence test:
    the loop stops at the first checkpoint whose edge set is a star
    forest, which is exactly a fixed point of the contraction. The test
    runs on the checkpoint's ``_neighborhoods``, local-checkpointed
    so the next round starts from them instead of shuffling again. A fixed
    point reached mid-interval therefore stops the loop at the end of
    that interval, trading at most ``interval-1`` extra cheap rounds
    (no-ops on a star forest) for half (at 2) the actions and durable
    checkpoint writes. Resume granularity is the checkpointed round; a
    manifest whose last entry is converged resumes with no round at
    all, straight to labelling."""
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u") != F.col("v")
    )

    # a checkpoint holds a star round's output; reading it back with
    # that schema (plan analysis, no job) spares the job that infers a
    # schema from the parquet footers
    cp_schema = _small_star(_large_star(_neighborhoods(e))).schema
    start_iter = 0
    converged = False
    manifest = {"iterations": []}
    with stage(spark, "clustering"):
        if checkpoint_dir:
            man = _read_manifest(checkpoint_dir)
            if man and man.get("iterations"):
                manifest = man
                last = man["iterations"][-1]
                e = spark.read.schema(cp_schema).parquet(last["path"])
                start_iter = last["iteration"] + 1
                converged = last["converged"]

        checkpoint_interval = max(1, checkpoint_interval)
        nbhd = _neighborhoods(e)
        for it in range(start_iter, max_iter):
            if converged:
                break
            e = _small_star(_large_star(nbhd))
            at_cp = (
                (it - start_iter + 1) % checkpoint_interval == 0
                or it == max_iter - 1
            )
            if checkpoint_dir and at_cp:
                path = os.path.join(checkpoint_dir, f"iter_{it:04d}")
                e.write.mode("overwrite").parquet(path)
                e = spark.read.schema(cp_schema).parquet(path)
            else:
                # lazy barrier: plan becomes a LogicalRDD (constant size);
                # the RDD materializes with the next action, so deferred
                # rounds cost no job of their own
                e = e.localCheckpoint(eager=False)
            nbhd = _neighborhoods(e)
            if not at_cp:
                continue
            # the test reads the next round's neighborhoods: keep them, so
            # the round does not shuffle the edge set a second time
            nbhd = nbhd.localCheckpoint(eager=False)
            n_edges, checksum, converged = _checkpoint_stats(nbhd)
            if checkpoint_dir:
                manifest["iterations"].append(
                    {
                        "iteration": it,
                        "path": path,
                        "n_edges": n_edges,
                        "checksum": checksum,
                        "converged": converged,
                    }
                )
                _write_manifest(checkpoint_dir, manifest)

    # after convergence every edge is (node, component-min)
    labels = e.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("id")).distinct().join(
        labels.select("id"), "id", "left_anti"
    ).withColumn("cluster_id", F.col("id"))
    return labels.union(roots)


def local_connected_components(edges: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Driver-local union-find over a SMALL edge set: same
    ``(id, cluster_id=min id of component)`` contract as
    ``connected_components``, in one collect + one createDataFrame.

    This is the bounded small-graph fast path: an iterative star
    contraction costs ~10 Spark stages per round regardless of size,
    which dominates end-to-end wall time when the match graph is tiny
    (thousands of edges). Callers that already know the edge count
    (``resolve_entities`` counts matches for its metrics) route here
    below ``cc_local_threshold`` and to the distributed algorithm
    above it — at 10^12-turn scale the threshold never triggers; this
    is strictly a small-job latency optimization, never a scalability
    crutch (the collect is bounded by the caller's threshold)."""
    spark = edges.sparkSession
    with stage(spark, "clustering"):
        rows = edges.select(src, dst).collect()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        u, v = r[0], r[1]
        if u == v:
            continue
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    # min id per component (deterministic, matches the distributed path)
    comp_min: dict = {}
    for x in parent:
        rx = find(x)
        if rx not in comp_min or x < comp_min[rx]:
            comp_min[rx] = x
    out = [(x, comp_min[find(x)]) for x in parent]
    id_type = edges.schema[src].dataType
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("id", id_type), StructField("cluster_id", id_type)]
    )
    return spark.createDataFrame(out, schema)


def attach_singletons(
    labels: DataFrame, all_ids: DataFrame, id_col: str = "conv_id"
) -> DataFrame:
    """``(id, cluster_id)`` for every distinct id of ``all_ids``: its
    label, or itself for a record that produced no match edge. One left
    join of the ids to the labels.

    Precondition: every labelled id is among ``all_ids`` (a label whose
    id is not is dropped). Every caller meets it, since its labels come
    from match edges between records of ``all_ids``."""
    ids = all_ids.select(F.col(id_col).alias("id")).distinct()
    return ids.join(labels, "id", "left").select(
        "id", F.coalesce("cluster_id", "id").alias("cluster_id")
    )
