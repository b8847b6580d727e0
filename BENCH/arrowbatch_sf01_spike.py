"""Arrow batch size at the sf0.1 headline scale (round-5 VERDICT #4).

The 64k maxRecordsPerBatch adoption was validated at 16M turns (1.08-1.15x
over 10k, BENCH/arrowbatch_spike.py); round-4 bench then showed q24 +13%
and pipeline turns/s -7% at sf0.1 — inside the documented steal envelope
individually, but both landed with the change, so measure it AT sf0.1:

    python BENCH/arrowbatch_sf01_spike.py [--reps 5] [--cores 32]

Interleaved best-of-N in ONE session (the conf is read per-query) on the
two affected workloads: the full pipeline_tiers path and the q24 gorilla
roundtrip. Decision rule mirrors the 16M spike: keep 64k unless 10k is
>1.05x at this scale on either workload; record either way in
BENCH/BASELINE.md.
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
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cores", type=int, default=32)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args()

    from olympian_spark.plans.pipeline import QcParams, build_tiers
    from olympian_spark.session import get_spark
    from olympian_spark.sources.transcripts import transcripts_from_events

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="arrowbatch_sf01", cores=args.cores)
    spark.range(1000).selectExpr("sum(id)").collect()
    t = transcripts_from_events(spark, args.sf_dir)
    t.count()
    qs = entrymod.queries()

    def run_pipeline() -> None:
        tiers = build_tiers(t, QcParams(dip_high=60.0, dip_max=1800.0), persist=True)
        for k in ("tier_1m", "tier_1h", "tier_1d", "rollup_role_1h", "rollup_tool_1h"):
            tiers[k].count()
        for k in ("_tagged", "_dims", "_sorted"):
            tiers[k].unpersist()

    def run_q24() -> None:
        qs["q24_gorilla_roundtrip"](spark, args.sf_dir).count()

    best: dict[str, float] = {}
    for rep in range(args.reps):
        for label, size in (("10k", "10000"), ("64k", "65536")):
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", size)
            for wname, fn in (("pipeline", run_pipeline), ("q24", run_q24)):
                t0 = time.time()
                fn()
                dt = time.time() - t0
                key = f"{wname}_{label}"
                best[key] = min(best.get(key, 1e9), dt)
                print(f"rep {rep} {key}: {dt:.3f}s", flush=True)

    result = {
        "sf": args.sf_dir,
        "cores": args.cores,
        "reps": args.reps,
        "best_sec": {k: round(v, 3) for k, v in best.items()},
        "speedup_64k_over_10k": {
            "pipeline": round(best["pipeline_10k"] / best["pipeline_64k"], 3),
            "q24": round(best["q24_10k"] / best["q24_64k"], 3),
        },
    }
    print(json.dumps(result))
    with open(os.path.join(HERE, "arrowbatch_sf01_result.json"), "w") as f:
        json.dump(result, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
