"""Cluster entry point: two-table record linkage / incremental cluster
assignment.

Launch::

    spark-submit --py-files triple_accel_spark.zip jobs/link_job.py \
        --left /path/left.parquet --right /path/right.parquet \
        --output /path/out \
        [--mode link|assign] [--id-col id] [--text-col text] \
        [--cluster-col cluster_id]   # assign mode: left must carry it
        [--sim-threshold 0.88] [--blocking minhash|prefix] \
        [--synth N]   # no --left/--right: synthesize a demo corpus

``link`` writes ``{output}/matches`` (all pairs at/above the
threshold) and ``{output}/best`` (best left partner per right record);
``assign`` writes ``{output}/assignments`` (each right record labeled
with the inherited cluster id or its own id as a new singleton).
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--left", default=None)
    p.add_argument("--right", default=None)
    p.add_argument("--output", required=True)
    p.add_argument("--mode", choices=("link", "assign"), default="link")
    p.add_argument("--id-col", default="id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--cluster-col", default="cluster_id")
    p.add_argument("--sim-threshold", type=float, default=0.88)
    p.add_argument("--blocking", choices=("minhash", "prefix"), default="minhash")
    p.add_argument("--synth", type=int, default=200)
    args = p.parse_args()

    from pyspark.sql import functions as F

    from triple_accel_spark.operators.linkage import (
        LinkConfig,
        assign_to_clusters,
        link_records,
    )

    from triple_accel_spark.session import get_submit_session

    spark = get_submit_session("triple_accel_spark.link")

    if args.left and args.right:
        left = spark.read.parquet(args.left)
        right = spark.read.parquet(args.right)
    else:
        # demo corpus: assembled synthetic transcript docs as the left
        # table, a one-char-perturbed copy as the right table
        from triple_accel_spark.operators.assemble import assemble_documents
        from triple_accel_spark.sources.transcripts import generate_transcripts

        tdf, _ = generate_transcripts(n_entities=args.synth, seed=42)
        docs = assemble_documents(spark.createDataFrame(tdf))
        left = docs.select(
            F.col("conv_id").alias(args.id_col),
            F.col("doc").alias(args.text_col),
        )
        if args.mode == "assign":
            left = left.withColumn(args.cluster_col, F.col(args.id_col))
        right = left.select(
            F.concat(F.lit("new_"), F.col(args.id_col)).alias(args.id_col),
            F.concat(
                F.substring(args.text_col, 1, 30), F.lit("#"),
                F.expr(f"substring({args.text_col}, 32)"),
            ).alias(args.text_col),
        )

    cfg = LinkConfig(
        sim_threshold=args.sim_threshold, blocking=args.blocking,
    )
    t0 = time.time()
    if args.mode == "assign":
        out = assign_to_clusters(
            left, right, text_col=args.text_col, id_col=args.id_col,
            cluster_col=args.cluster_col, cfg=cfg,
        )
        out.write.mode("overwrite").parquet(f"{args.output}/assignments")
        metrics = {
            "mode": "assign",
            "n_new_records": out.count(),
            "n_singletons": out.where(F.col("is_new")).count(),
        }
        for fr in getattr(out, "_persisted_frames", []):
            fr.unpersist()
    else:
        res = link_records(
            left, right, text_col=args.text_col, id_col=args.id_col, cfg=cfg
        )
        res.matches.write.mode("overwrite").parquet(f"{args.output}/matches")
        res.best.write.mode("overwrite").parquet(f"{args.output}/best")
        metrics = {"mode": "link", **res.metrics}
        res.unpersist()
    metrics["wall_sec"] = round(time.time() - t0, 3)
    with open(f"{args.output}/metrics.json", "w") as f:
        json.dump(metrics, f, indent=2)
    print(json.dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
