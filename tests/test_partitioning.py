"""Partitioning/shuffle behaviours the engine relies on at scale:
bucketed co-located joins (no exchange) and calendar-month tiers."""

import numpy as np
import pytest
from tier_oracle import oracle_turns, us

from olympian_spark.datagen import gen_transcripts
from olympian_spark.flags import Flag
from olympian_spark.operators.rollup import rollup_coarser
from olympian_spark.oracle.quantile import compute_quantile
from olympian_spark.plans.pipeline import QcParams, build_tiers


def test_bucketed_join_eliminates_exchange(spark, tmp_path):
    """Pre-bucketing both sides of a recurring join key removes the shuffle:
    the physical plan contains a SortMergeJoin with NO Exchange under it.
    This is the storage-layout lever for repeated conv-keyed joins at
    100 TB (bucketBy on conv_id at ingest)."""
    # warehouse dir is a static conf; the default ./spark-warehouse is
    # git-ignored and cleaned by the DROP TABLEs below. A crashed prior run
    # can leave orphan table dirs with no metastore entry, which fails
    # saveAsTable with LOCATION_ALREADY_EXISTS — clear them first.
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("bt_a", "bt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    df = spark.createDataFrame(
        [(i % 97, i) for i in range(5000)], "k long, v long"
    )
    df.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_a")
    df.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bt_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt_a").join(spark.table("bt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan[:2000]}"
        assert joined.count() > 5000  # k repeats ~51x: join fans out
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_month_grain_tier(spark):
    """Calendar-month rollup of the fused day tier (chronoutil
    RelativeDuration parity: month buckets are calendar-aware, not fixed
    seconds): exactly one row per (conv_id, month), anchored at the 1st,
    whose counts, sum_text_len and exact p95 match a per-month oracle."""
    params = QcParams(dip_high=300, dip_max=1200)
    pdf = gen_transcripts(5_000, 20, seed=4).to_pandas()
    tiers = build_tiers(spark.createDataFrame(pdf), params)
    got = rollup_coarser(tiers["tier_1d"], "month").toPandas()
    for k in ("_tagged", "_dims", "_sorted"):
        tiers[k].unpersist()

    turns = oracle_turns(pdf, params)
    turns["month"] = (
        turns["ts_us"].to_numpy().astype("datetime64[us]").astype("datetime64[M]")
        .astype("datetime64[us]").astype(np.int64)
    )
    turns["ok"] = turns["flag_dip"] != int(Flag.FAIL)
    got["month"] = us(got["bucket_start"])
    assert not got.duplicated(["conv_id", "month"]).any(), "duplicate (conv_id, month) rows"
    assert (got["bucket_start"].dt.day == 1).all()  # month buckets anchor at the 1st
    exp = turns.groupby(["conv_id", "month"])
    assert len(got) == exp.ngroups
    for r in got.itertuples():
        g = exp.get_group((r.conv_id, r.month))
        ok = g[g["ok"]]
        assert r.n_turns == len(g)
        assert r.n_qc_fail == int((~g["ok"]).sum())
        assert r.sum_text_len == int(ok["tl"].astype(np.int64).sum())
        valid = ok["gap"].to_numpy(np.float32)
        valid = valid[np.isfinite(valid)]
        if len(valid):
            p95 = compute_quantile(0.95, valid)
            assert np.float32(r.p95_gap).view(np.uint32) == p95.view(np.uint32)
        else:
            assert np.isnan(r.p95_gap)
    assert got["n_turns"].sum() == 5_000
    with pytest.raises(ValueError):
        rollup_coarser(tiers["tier_1d"], "hour")  # fixed grains come from the fused kernel
