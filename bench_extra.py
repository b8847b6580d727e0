"""Round-6 measurement harness (bench.py is FROZEN; extra benchmarks live here).

Modes:
  python bench_extra.py queries [sf_dir] [reps]   # interleaved per-query timing
  python bench_extra.py pipeline [sf_dir]         # stage-isolated pipeline_tiers
  python bench_extra.py explain [sf_dir] [out]    # dump explain("formatted") per query

Timing methodology matches bench.py (same session config, .count() actions),
but each query is run `reps` times round-robin so machine-load noise spreads
across queries; reports per-query min/median/all samples.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _spark(cores: int):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from olympian_spark.session import get_spark

    spark = get_spark(app_name="olympian_spark_bench_extra", cores=cores)
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


BENCH_QUERIES = [
    "q03_step_flags",
    "q06_spine_gapfill_hourly",
    "q07_locf_hourly",
    "q08_rollup_1m",
    "q09_rollup_1h_from_1m_partials",
    "q13_qc_filtered_rollup_1h",
    "q15_top_gaps",
    "q16_sessionize",
    "q19_salted_agg_equivalence",
    "q24_gorilla_roundtrip",
]


def run_queries(sf_dir: str, reps: int) -> None:
    import __spark_entry__ as entrymod

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(cores)
    qs = entrymod.queries()
    samples: dict[str, list[float]] = {n: [] for n in BENCH_QUERIES}
    for r in range(reps):
        for name in BENCH_QUERIES:
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.time()
            qs[name](spark, sf_dir).count()
            samples[name].append(round(time.time() - t0, 3))
    out = {
        "sf": sf_dir,
        "reps": reps,
        "min": {n: min(v) for n, v in samples.items()},
        "median": {n: sorted(v)[len(v) // 2] for n, v in samples.items()},
        "samples": samples,
    }
    out["total_min"] = round(sum(out["min"].values()), 3)
    out["total_median"] = round(sum(out["median"].values()), 3)
    print(json.dumps(out, indent=1))
    spark.stop()


def run_pipeline(sf_dir: str, reps: int = 2) -> None:
    """Stage-isolated timing of pipeline_tiers (same shape as bench.py)."""
    from olympian_spark.plans.pipeline import QcParams, build_tiers
    from olympian_spark.sources.transcripts import transcripts_from_events

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(cores)
    sc = spark.sparkContext
    t = transcripts_from_events(spark, sf_dir)
    n_turns = t.count()
    results = []
    for r in range(reps):
        stage: dict[str, float] = {}

        def timed(name, fn):
            sc.setJobDescription(f"pipeline {name} rep{r}")
            t0 = time.time()
            fn()
            stage[name] = round(time.time() - t0, 3)

        t_all0 = time.time()
        tiers = build_tiers(t, QcParams(dip_high=60.0, dip_max=1800.0), persist=True)
        timed("tier_1m_count(full chain)", lambda: tiers["tier_1m"].count())
        timed("tier_1h_count", lambda: tiers["tier_1h"].count())
        timed("tier_1d_count", lambda: tiers["tier_1d"].count())
        timed("rollup_role_1h", lambda: tiers["rollup_role_1h"].count())
        timed("rollup_tool_1h", lambda: tiers["rollup_tool_1h"].count())
        stage["TOTAL"] = round(time.time() - t_all0, 3)
        results.append(stage)
        # unpersist so next rep re-runs from scratch (no cross-run caching)
        for k in ("_tagged", "_dims", "_sorted"):
            tiers[k].unpersist(True)
    print(json.dumps({"sf": sf_dir, "n_turns": n_turns, "runs": results}, indent=1))
    spark.stop()


def run_pipeline_sub(sf_dir: str) -> None:
    """Finer isolation: time the sub-stages of the fused-kernel chain with
    noop sinks (guide §1.4) so each transformation is measured alone."""
    from pyspark.sql import functions as F

    from olympian_spark.operators.qc_series import with_gap_and_dip_parallel
    from olympian_spark.operators.rollup import rollup_tiers_fused
    from olympian_spark.plans.pipeline import QcParams
    from olympian_spark.sources.transcripts import transcripts_from_events

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(cores)
    sc = spark.sparkContext
    params = QcParams(dip_high=60.0, dip_max=1800.0)
    stage: dict[str, float] = {}

    def timed(name, df):
        sc.setJobDescription(f"sub {name}")
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        stage[name] = round(time.time() - t0, 3)

    t = transcripts_from_events(spark, sf_dir)
    t.count()
    pre = t.select(
        "conv_id", "turn_idx", "ts",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("float").alias("text_len"),
    )
    timed("a_pre(scan+turnidx window)", pre)
    # stage 1 exactly as build_tiers runs it: the range sort + edge pass run
    # inside the call, the stencil in the timed write
    t0 = time.time()
    slim, sorted_handle = with_gap_and_dip_parallel(pre, params.dip_high, params.dip_max)
    stage["b_sort(stage-1 range sort + edge pass)"] = round(time.time() - t0, 3)
    timed("c_slim(stage-1 stencil)", slim)
    timed("d_tagged(stencil + fused kernel)", rollup_tiers_fused(slim))
    sorted_handle.unpersist()
    print(json.dumps({"sf": sf_dir, "stages": stage}, indent=1))
    spark.stop()


def run_explain(sf_dir: str, out_dir: str) -> None:
    import __spark_entry__ as entrymod

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(cores)
    qs = entrymod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in BENCH_QUERIES:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
    # pipeline tiers plan
    from olympian_spark.plans.pipeline import QcParams, build_tiers
    from olympian_spark.sources.transcripts import transcripts_from_events

    t = transcripts_from_events(spark, sf_dir)
    tiers = build_tiers(t, QcParams(dip_high=60.0, dip_max=1800.0), persist=False)
    for k in ("tier_1m", "rollup_role_1h"):
        df = tiers[k]
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"pipeline_{k}.txt"), "w") as f:
            f.write(plan)
    print(f"plans written to {out_dir}")
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    if mode == "queries":
        run_queries(sf_dir, int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    elif mode == "pipeline":
        run_pipeline(sf_dir)
    elif mode == "pipeline_sub":
        run_pipeline_sub(sf_dir)
    elif mode == "explain":
        run_explain(sf_dir, sys.argv[3] if len(sys.argv) > 3 else "plans/r06/_work")
    else:
        raise SystemExit(f"unknown mode {mode}")
