"""Arrow transfer batch-size spike (kernel-stage IPC overhead).

spark.sql.execution.arrow.maxRecordsPerBatch chunks the JVM->Python Arrow
stream for the grouped kernels. 10k (current) vs 64k, same session,
interleaved best-of-N on the fused tier kernel at 16M turns.

    python BENCH/arrowbatch_spike.py [--turns 16000000] [--cores 32] [--reps 3]

Record the adopt/reject decision in docs/PLANS.md (adopt only if >1.05x).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--turns", type=int, default=16_000_000)
    ap.add_argument("--convs", type=int, default=16_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from olympian_spark.datagen import write_transcripts
    from olympian_spark.operators.qc_series import with_gap_and_dip_parallel
    from olympian_spark.operators.rollup import rollup_tiers_fused
    from olympian_spark.session import get_spark

    path = os.path.join(
        REPO, "_work", "scale",
        f"transcripts_{args.turns}_{args.convs}_h0.02_multi",
    )
    if not os.path.exists(path):
        write_transcripts(path, n_turns=args.turns, n_convs=args.convs,
                          seed=42, hot_conv_share=0.02, n_files=64)

    spark = get_spark(app_name="arrowbatch_spike", cores=args.cores)
    spark.range(1000).selectExpr("sum(id)").collect()

    t = spark.read.parquet(path)
    # stage 1 as build_tiers runs it; the kernel runs on its sorted partitions
    pre = t.select(
        "conv_id", "turn_idx", "ts",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("float").alias("text_len"),
    )
    slim, sorted_handle = with_gap_and_dip_parallel(pre, 300.0, 1200.0)
    slim = slim.persist()
    slim.count()

    best: dict[str, float] = {}
    for _ in range(args.reps):
        for label, size in (("10k", "10000"), ("64k", "65536")):
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", size)
            t0 = time.time()
            rollup_tiers_fused(slim).count()
            w = time.time() - t0
            if label not in best or w < best[label]:
                best[label] = w
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    slim.unpersist()
    sorted_handle.unpersist()

    print(json.dumps({
        "turns": args.turns,
        "cores": args.cores,
        "kernel_wall_s": {k: round(v, 3) for k, v in best.items()},
        "speedup_64k_over_10k": round(best["10k"] / best["64k"], 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
