"""conv_id dictionary-encoding spike (round-2 backlog item).

Measures the fused tier kernel stage with (a) string conv_id keys vs
(b) int64 conversation keys, on the same input, same session. The datagen
conv_id is 'conv_<int>', so the int key is derived exactly
(substr cast) — this measures the upper bound of what ingest-time
dictionary encoding buys the kernel shuffle/sort/Arrow path.

    python BENCH/dictenc_spike.py [--turns 4000000] [--cores 32] [--reps 2]

Prints one JSON line; record the decision in docs/PLANS.md.
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
    ap.add_argument("--turns", type=int, default=4_000_000)
    ap.add_argument("--convs", type=int, default=8_000)
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--reps", type=int, default=2)
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

    spark = get_spark(app_name="dictenc_spike", cores=args.cores)
    spark.range(1000).selectExpr("sum(id)").collect()
    wdf = spark.range(5000).selectExpr("cast(id as string) k", "id v").repartition(
        2 * args.cores, "k")
    wdf.groupBy("k").applyInPandas(lambda p: p.head(1), "k string, v long").count()

    t = spark.read.parquet(path)
    # stage 1 as build_tiers runs it; the kernel runs on its sorted
    # partitions. The zero-padded 'conv_<int>' keys sort the same as strings
    # and as integers, so the int-key frame keeps the kernel's input order.
    pre = t.select(
        "conv_id", "turn_idx", "ts",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("float").alias("text_len"),
    )
    flagged, sorted_handle = with_gap_and_dip_parallel(pre, 300.0, 1200.0)
    slim_str = flagged.localCheckpoint(eager=True)
    sorted_handle.unpersist()
    slim_int = slim_str.withColumn(
        "conv_id", F.substring("conv_id", 6, 100).cast("long")
    ).localCheckpoint(eager=True)

    def run(slim):
        best = float("inf")
        for _ in range(args.reps):
            t0 = time.time()
            n = rollup_tiers_fused(slim).count()
            best = min(best, time.time() - t0)
        return best, n

    wall_str, n_str = run(slim_str)
    wall_int, n_int = run(slim_int)
    assert n_str == n_int, (n_str, n_int)
    print(json.dumps({
        "turns": args.turns, "cores": args.cores,
        "kernel_wall_string_key_s": round(wall_str, 2),
        "kernel_wall_int_key_s": round(wall_int, 2),
        "speedup_int_over_string": round(wall_str / wall_int, 3),
        "tier_rows": n_str,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
