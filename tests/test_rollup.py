"""Tier correctness (Tier B/C):

- every column of tier_1m / tier_1h / tier_1d bit-matches the independent
  per-bucket numpy oracle in tier_oracle.py (f32 by uint32 view, blocks
  byte-equal) on the default fixture, a hot conversation, pre-epoch
  timestamps, forced Arrow batch seams and forced stage-1 partition seams
- turns out of order (NULL ts, ts going backwards in turn order, unsorted
  kernel input) raise TurnOrderError
- 1h sums == sum of member 1m sums; 1d == sum of member 1h sums
- QC-before-rollup: FAIL rows excluded from measures, counted in n_qc_fail
- salted two-stage agg == plain groupBy
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from tier_oracle import assert_tiers_match_oracle, oracle_turns, us

from olympian_spark.datagen import gen_transcripts
from olympian_spark.flags import Flag
from olympian_spark.operators.qc_series import with_gap_and_dip_parallel
from olympian_spark.operators.rollup import _fused_process, rollup_tiers_fused, salted_agg
from olympian_spark.oracle.quantile import compute_quantile
from olympian_spark.plans.pipeline import QcParams, build_tiers

F32 = np.float32
PARAMS = QcParams(dip_high=300.0, dip_max=1200.0)
TIERS = ("tier_1m", "tier_1h", "tier_1d")


@pytest.fixture(scope="module")
def tiers(spark):
    pdf = gen_transcripts(n_turns=20_000, n_convs=60, seed=42).to_pandas()
    return pdf, _collect(build_tiers(spark.createDataFrame(pdf), PARAMS))


def _collect(tiers):
    """The three tier frames of a build_tiers run as pandas; releases the
    run's persisted frames."""
    got = {t: tiers[t].toPandas() for t in TIERS}
    for k in ("_tagged", "_dims", "_sorted"):
        tiers[k].unpersist()
    return got


def _stage1_input(spark, pdf):
    """The narrow frame build_tiers feeds stage 1."""
    return spark.createDataFrame(pdf).select(
        "conv_id", "turn_idx", "ts",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("float").alias("text_len"),
    )


def _split_grains(tagged_pdf):
    """rollup_tiers_fused's tagged output (as pandas) -> {tier: frame}."""
    return {
        t: tagged_pdf[tagged_pdf["_grain"] == g].drop(columns="_grain")
        for g, t in enumerate(TIERS)
    }


def test_stage1_flags_match_oracle(spark, tiers):
    """The stage-1 stencil output the tier kernel consumes, from the same
    call build_tiers makes: flag_dip equals the reference dip_check on
    every turn and turn_gap_s is bit-equal to the oracle's f32 gap (NULL on
    a conversation's first turn). The fixture's dip sums are mostly short
    or far above 1200 s, so the tier thresholds see no WARN; the second
    set puts both thresholds inside the bulk of them (PASS, WARN and FAIL
    all common), so a shifted threshold changes flags."""
    pdf, _ = tiers
    for params in (PARAMS, QcParams(dip_high=60.0, dip_max=120.0)):
        slim, handle = with_gap_and_dip_parallel(
            _stage1_input(spark, pdf), params.dip_high, params.dip_max
        )
        try:
            got = slim.select("conv_id", "turn_idx", "turn_gap_s", "flag_dip").toPandas()
        finally:
            handle.unpersist()
        oracle = oracle_turns(pdf, params)
        merged = oracle.merge(got, on=["conv_id", "turn_idx"], suffixes=("_o", "_s"))
        assert len(merged) == len(oracle) == len(got)
        assert (merged["flag_dip_o"] == merged["flag_dip_s"]).all(), params
        assert (merged["flag_dip_o"] == int(Flag.FAIL)).any(), "fixture too tame: no QC fails"
        gap_s = merged["turn_gap_s"].to_numpy(F32)
        gap_o = merged["gap"].to_numpy(F32)
        assert (np.isnan(gap_s) == np.isnan(gap_o)).all()
        assert (gap_s.view(np.uint32) == gap_o.view(np.uint32))[~np.isnan(gap_o)].all()


def test_tier_1m_matches_oracle(tiers):
    pdf, got = tiers
    oracle = oracle_turns(pdf, PARAMS)
    oracle["bucket"] = (oracle["ts_us"] // 60_000_000) * 60_000_000
    t1m = got["tier_1m"].copy()
    t1m["bucket"] = us(t1m["bucket_start"])

    exp = {}
    for (conv, bucket), g in oracle.groupby(["conv_id", "bucket"]):
        ok = g[g["flag_dip"] != int(Flag.FAIL)]
        gaps = ok["gap"].to_numpy(F32)
        valid = gaps[np.isfinite(gaps)]
        exp[(conv, bucket)] = dict(
            n_turns=len(g),
            n_qc_fail=int((g["flag_dip"] == int(Flag.FAIL)).sum()),
            n_valid=len(valid),
            mean_gap=(
                F32(F32(np.sum(valid, dtype=F32)) / F32(len(valid)))
                if len(valid)
                else None
            ),
            p95=compute_quantile(0.95, valid) if len(valid) else None,
        )
    assert len(t1m) == len(exp)
    n_fail_total = 0
    for r in t1m.itertuples():
        e = exp[(r.conv_id, r.bucket)]
        assert r.n_turns == e["n_turns"]
        assert r.n_qc_fail == e["n_qc_fail"]
        assert r.n_valid_gap == e["n_valid"]
        if e["mean_gap"] is None:
            assert pd.isna(r.mean_gap)
        else:
            # bit-exact f32
            assert F32(r.mean_gap).view(np.uint32) == e["mean_gap"].view(np.uint32)
            assert F32(r.p95_gap).view(np.uint32) == e["p95"].view(np.uint32)
        n_fail_total += r.n_qc_fail
    assert n_fail_total > 0, "fixture too tame: no QC fails"


def _check_tier_consistency(fine, coarse, trunc):
    fine = fine.copy()
    fine["cb"] = fine["bucket_start"].dt.floor(trunc)
    agg = fine.groupby(["conv_id", "cb"]).agg(
        n_turns=("n_turns", "sum"),
        n_qc_fail=("n_qc_fail", "sum"),
        n_valid_gap=("n_valid_gap", "sum"),
        sum_text_len=("sum_text_len", "sum"),
    )
    assert len(agg) == len(coarse)
    for r in coarse.itertuples():
        e = agg.loc[(r.conv_id, r.bucket_start)]
        assert r.n_turns == e["n_turns"]
        assert r.n_qc_fail == e["n_qc_fail"]
        assert r.n_valid_gap == e["n_valid_gap"]
        assert r.sum_text_len == e["sum_text_len"]


def test_tier_cascade_consistency(tiers):
    _, got = tiers
    _check_tier_consistency(got["tier_1m"], got["tier_1h"], "h")
    _check_tier_consistency(got["tier_1h"], got["tier_1d"], "D")


def test_coarse_p95_exact_from_blocks(tiers):
    pdf, got = tiers
    oracle = oracle_turns(pdf, PARAMS)
    oracle["hb"] = (oracle["ts_us"] // 3_600_000_000) * 3_600_000_000
    t1h = got["tier_1h"].copy()
    t1h["hb"] = us(t1h["bucket_start"])
    checked = 0
    for (conv, hb), g in oracle.groupby(["conv_id", "hb"]):
        ok = g[g["flag_dip"] != int(Flag.FAIL)]
        gaps = ok["gap"].to_numpy(F32)
        valid = gaps[np.isfinite(gaps)]
        if not len(valid):
            continue
        row = t1h[(t1h.conv_id == conv) & (t1h.hb == hb)]
        assert len(row) == 1
        got_p95 = F32(row["p95_gap"].iloc[0])
        assert got_p95.view(np.uint32) == compute_quantile(0.95, valid).view(np.uint32)
        checked += 1
    assert checked > 50


def test_tiers_match_oracle_default(tiers):
    pdf, got = tiers
    assert_tiers_match_oracle(got, oracle_turns(pdf, PARAMS))


def test_tiers_match_oracle_hot_conversation(spark):
    """One conversation holds ~20% of all turns inside one calendar week:
    its (conv, day) segments spread over kernel partitions, and every tier
    row still matches the oracle."""
    pdf = gen_transcripts(30_000, 40, seed=17, hot_conv_share=0.20, span_days=5.0).to_pandas()
    got = _collect(build_tiers(spark.createDataFrame(pdf), PARAMS))
    assert_tiers_match_oracle(got, oracle_turns(pdf, PARAMS))


def test_tiers_match_oracle_forced_batch_seams(spark):
    """Arrow batches of 7 rows (a prime, so batch edges drift across
    buckets) make nearly every (conv, day) segment straddle a batch seam:
    the stage-1 stencil stitches its context rows across seams and the
    tier kernel holds each trailing incomplete segment back until the next
    batch completes it."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "7")
    try:
        pdf = gen_transcripts(6_000, 20, seed=29).to_pandas()
        df = spark.createDataFrame(pdf)
        sizes = df.mapInArrow(
            lambda bs: (pa.RecordBatch.from_pydict({"n": [b.num_rows]}) for b in bs),
            "n long",
        ).collect()
        assert max(r.n for r in sizes) <= 7, "batch size conf not in effect"
        got = _collect(build_tiers(df, PARAMS))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert_tiers_match_oracle(got, oracle_turns(pdf, PARAMS))


def test_tiers_match_oracle_forced_partition_seams(spark):
    """Stage 1 on 11 range partitions of the hot-conversation fixture: the
    hot conversation's day segments land in several partitions, so the
    stencil's day-boundary context crosses partition seams, and the kernel
    runs on those partitions as they are."""
    pdf = gen_transcripts(30_000, 40, seed=17, hot_conv_share=0.20, span_days=5.0).to_pandas()
    hot = pdf["conv_id"].value_counts().idxmax()
    slim, handle = with_gap_and_dip_parallel(_stage1_input(spark, pdf), 300.0, 1200.0, n_part=11)
    try:
        n_hot_parts = (
            handle.filter(F.col("conv_id") == hot)
            .select(F.spark_partition_id()).distinct().count()
        )
        got = _split_grains(rollup_tiers_fused(slim).toPandas())
    finally:
        handle.unpersist()
    assert n_hot_parts >= 2, n_hot_parts
    assert_tiers_match_oracle(got, oracle_turns(pdf, PARAMS))


def test_tiers_match_oracle_pre_epoch(spark):
    """Turns before 1970 straddling the epoch, some exactly on a midnight,
    through stage 1 on more range partitions than there are (conv, day)
    keys: stage 1's range key (Spark pmod) and the kernel's day / hour /
    minute buckets (numpy floor-mod) must agree. With sign-of-dividend
    modulo a pre-epoch day would be split across two range keys, hence two
    partitions, and emitted twice."""
    day = 86_400_000_000
    rng = np.random.default_rng(5)
    parts = []
    for c in range(4):
        ts = -3 * day + np.cumsum(rng.integers(1, 3_000_000_000, 400))
        ts = np.union1d(ts, [-2 * day, -day, 0])
        parts.append(pd.DataFrame({
            "conv_id": f"c{c}",
            "turn_idx": np.arange(ts.size),
            "ts_us": ts,
            "text": ["x" * k for k in rng.integers(0, 500, ts.size)],
        }))
    turns = pd.concat(parts, ignore_index=True)
    assert turns["ts_us"].min() < 0 < turns["ts_us"].max()
    df = spark.createDataFrame(turns).select(
        "conv_id", "turn_idx", F.timestamp_micros("ts_us").alias("ts"),
        F.length("text").cast("float").alias("text_len"),
    )
    slim, handle = with_gap_and_dip_parallel(df, 300.0, 1200.0, n_part=64)
    try:
        got = _split_grains(rollup_tiers_fused(slim).toPandas())
    finally:
        handle.unpersist()
    oracle = oracle_turns(turns.assign(ts=pd.to_datetime(turns["ts_us"], unit="us")), PARAMS)
    assert (oracle["flag_dip"] == int(Flag.FAIL)).any()
    assert_tiers_match_oracle(got, oracle)


def test_sum_text_len_exact_above_f32_integers():
    """sum_text_len is an exact integer sum on every grain: 2**24 + 1 has no
    float32 representation, so an f32 accumulation of these two passing
    turns would report 2**24."""
    tbl = pa.table({
        "conv_id": ["c0", "c0"],
        "_ts_us": pa.array([0, 1_000_000], pa.int64()),
        "turn_gap_s": pa.array([None, 1.0], pa.float32()),
        "text_len": pa.array([2.0**24, 1.0], pa.float32()),
        "flag_dip": pa.array([int(Flag.PASS)] * 2, pa.int8()),
    })
    out = _fused_process(tbl)
    assert out.column("_grain").to_pylist() == [0, 1, 2]
    assert out.column("sum_text_len").to_pylist() == [2**24 + 1] * 3


def test_salted_agg_equivalence(spark):
    df = spark.createDataFrame(
        gen_transcripts(n_turns=30_000, n_convs=30, seed=3).to_pandas()
    ).withColumn("text_len", F.length("text").cast("double"))
    plain = (
        df.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("text_len").alias("s"))
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    salted = (
        salted_agg(df, ["conv_id"], {"s": "text_len"}, salt_source="turn_idx")
        .toPandas()
        .set_index("conv_id")
        .sort_index()
    )
    assert (plain["n"] == salted["n"]).all()
    assert np.allclose(plain["s"], salted["s"], rtol=1e-12)


def test_fused_dims_equal_per_dimension_rollups(spark):
    """rollup_dims_fused slices must equal rollup_by_dimension exactly."""
    from olympian_spark.operators.rollup import rollup_by_dimension, rollup_dims_fused

    df = spark.createDataFrame(gen_transcripts(8_000, 30, seed=13).to_pandas())
    slim = df.select(
        "conv_id", "ts", "role", "tool",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("float").alias("text_len"),
    )
    dims = rollup_dims_fused(slim).persist()
    for grain, d in enumerate(("role", "tool")):
        a = (
            dims.filter(f"_grain = {grain}").drop("_grain")
            .withColumnRenamed("dim_value", d)
            .orderBy("bucket_start", d).toPandas()
        )
        b = rollup_by_dimension(slim, d).orderBy("bucket_start", d).toPandas()
        assert list(a.columns) == list(b.columns)
        assert a.equals(b), f"fused dims != per-dim rollup for {d}"
    dims.unpersist()


def _transcripts(spark, turns):
    """A transcripts frame from (conv_id, turn_idx, "HH:MM:SS" on a day of
    January 2024, or None for a NULL ts)."""
    rows = [
        (c, i, None if ts is None else f"2024-01-{ts}", "user", None, "hi")
        for c, i, ts in turns
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, ts string, role string, tool string, text string"
    ).withColumn("ts", F.to_timestamp("ts"))


def _first_tier_action(tiers):
    try:
        tiers["tier_1m"].collect()
    finally:
        for k in ("_tagged", "_dims", "_sorted"):
            tiers[k].unpersist()


@pytest.mark.parametrize("stamps", [
    # turn 2 stamped before turn 1 within one day: two tier_1m rows for
    # (c1, 10:00) if the kernel cut buckets in turn order
    ["01 10:00:30", "01 10:01:10", "01 10:00:40", "01 10:02:10"],
    # turn 2 stamped on the day before turn 1: sorted by day it would run
    # ahead of turn 1, so the stencil would see turns out of turn order
    ["01 23:59:00", "02 00:00:30", "01 23:59:40", "02 00:01:10"],
], ids=["within_day", "across_days"])
def test_backwards_ts_raises_turn_order_error(spark, stamps):
    """ts going backwards in turn_idx order breaks the one sort order both
    kernels share; it raises the named error instead of corrupting tiers."""
    turns = [("c0", i, f"01 09:0{i}:00") for i in range(3)]
    turns += [("c1", i, ts) for i, ts in enumerate(stamps)]
    tiers = build_tiers(_transcripts(spark, turns), PARAMS)
    with pytest.raises(Exception, match="TurnOrderError.*goes backwards in conversation 'c1'"):
        _first_tier_action(tiers)


def test_null_ts_raises_turn_order_error(spark):
    """A NULL ts has no bucket and no gap: it raises the named error rather
    than a bare worker TypeError or a garbage int64 timestamp."""
    turns = [("c1", i, f"01 10:0{i}:00") for i in range(6)]
    turns[3] = ("c1", 3, None)
    tiers = build_tiers(_transcripts(spark, turns), PARAMS)
    with pytest.raises(Exception, match="TurnOrderError.*NULL ts"):
        _first_tier_action(tiers)


def test_tier_kernel_rejects_unsorted_input(spark):
    """rollup_tiers_fused no longer sorts its input: a (conv_id, day) key
    going backwards within a partition raises the named error instead of
    emitting a second, partial row for the same buckets."""
    rows = [
        ("c1", 0, "2024-01-01 10:00:00"),
        ("c1", 1, "2024-01-02 10:00:00"),
        ("c1", 2, "2024-01-01 10:00:30"),
    ]
    df = (
        spark.createDataFrame(rows, "conv_id string, turn_idx int, ts string")
        .coalesce(1)
        .select(
            "conv_id", "turn_idx", F.unix_micros(F.to_timestamp("ts")).alias("_ts_us"),
            F.lit(1.0).cast("float").alias("turn_gap_s"),
            F.lit(2.0).cast("float").alias("text_len"),
            F.lit(int(Flag.PASS)).cast("tinyint").alias("flag_dip"),
        )
    )
    with pytest.raises(Exception, match="TurnOrderError.*_ts_us goes backwards"):
        rollup_tiers_fused(df).collect()


def test_build_tiers_releases_all_persisted_rdds(spark):
    """Once its tiers are read, build_tiers holds exactly three cached
    frames — the handles _tagged, _dims and _sorted — and unpersisting
    them leaves nothing behind."""
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    pdf = gen_transcripts(n_turns=3000, n_convs=10, seed=5).to_pandas()
    tiers = build_tiers(spark.createDataFrame(pdf), PARAMS)
    for name in (*TIERS, "rollup_role_1h", "rollup_tool_1h"):
        tiers[name].count()
    held = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - before
    for k in ("_tagged", "_dims", "_sorted"):
        tiers[k].unpersist()
    assert len(held) == 3, held
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) == before
    # one row shape through the tier path: stage 1 caches one timestamp,
    # and both tagged frames carry the _grain the grouped write reads
    assert tiers["_sorted"].columns == ["conv_id", "turn_idx", "_ts_us", "text_len"]
    assert "_grain" in tiers["_tagged"].columns
    assert "_grain" in tiers["_dims"].columns


def test_tier_plan_exchange_budget(spark):
    """Plan-budget regression pin: a full tier plan (stage 1 + fused
    kernel, persist=False so the WHOLE lineage shows) runs on ONE Exchange —
    stage 1's range sort on (conv_id, day) (an explicit partition count, so
    AQE byte-coalescing cannot starve it). The tier kernel runs on those
    partitions as they are. A new shuffle sneaking into the hot path fails
    this before it costs a benchmark."""
    pdf = gen_transcripts(n_turns=4000, n_convs=20, seed=3).to_pandas()
    tiers = build_tiers(spark.createDataFrame(pdf), PARAMS, persist=False)
    try:
        for name in TIERS:
            plan = tiers[name]._jdf.queryExecution().executedPlan().toString()
            # InMemoryRelation prints its cached child plan twice; count each
            # distinct Exchange node once
            n = len({
                line.strip().lstrip("+-: ")
                for line in plan.splitlines()
                if "Exchange " in line
            })
            assert n <= 1, f"{name}: {n} exchanges (budget 1)\n{plan[:1500]}"
    finally:
        tiers["_sorted"].unpersist()


def _rows(df):
    return sorted(df.collect())


def test_union_of_unpersisted_tier_slices(spark):
    """With persist=False every tier slice recomputes the stencil over
    stage 1's cached sort. In a union Spark numbers the second branch's
    tasks after the first's, so the stitch context must not be found by
    task partition id: the union holds every row of both slices."""
    pdf = gen_transcripts(n_turns=4000, n_convs=20, seed=3).to_pandas()
    tiers = build_tiers(spark.createDataFrame(pdf), PARAMS, persist=False)
    try:
        parts = [_rows(tiers[t]) for t in TIERS]
        union = tiers["tier_1m"].unionByName(tiers["tier_1h"]).unionByName(tiers["tier_1d"])
        got = _rows(union)
    finally:
        tiers["_sorted"].unpersist()
    assert all(parts)
    assert got == sorted(r for p in parts for r in p)


def test_tier_read_after_release_never_returns_other_tiers(spark):
    """A new query over a tier slice after stage 1's sort is released plans
    its range sort again, here with other bounds (a smaller range-exchange
    sample). The stitch context no longer fits those partitions, so the
    read raises StaleLayoutError; it never returns other tiers."""
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    pdf = gen_transcripts(n_turns=4000, n_convs=20, seed=3).to_pandas()
    tiers = build_tiers(spark.createDataFrame(pdf), PARAMS, persist=False)
    first = {t: _rows(tiers[t]) for t in TIERS}
    tiers["_sorted"].unpersist()
    old = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        for t in TIERS:
            try:
                again = _rows(tiers[t].select("*"))
            except Exception as e:  # the worker's error arrives as a PythonException
                assert "StaleLayoutError" in str(e), str(e)[:2000]
            else:
                assert again == first[t], t
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_full_refresh_job_budget(spark, tmp_path):
    """Job-budget regression pin: a warm full refresh_tiers of a small
    corpus runs at most 9 Spark jobs — no scoping jobs, one write for the
    three tier tables and one for the two unpersisted dimension tables, no
    emptiness probe. Per-refresh jobs are fixed cost that does not
    shrink with more cores, so a new one fails this before it costs a
    benchmark."""
    from olympian_spark.plans.refresh import refresh_tiers
    from olympian_spark.sources.catalog import ParquetManifestCatalog

    pdf = gen_transcripts(n_turns=4000, n_convs=20, seed=3).to_pandas()
    df = spark.createDataFrame(pdf)
    refresh_tiers(spark, ParquetManifestCatalog(spark, str(tmp_path / "warm")), df,
                  watermark="wm", params=PARAMS)
    sc = spark.sparkContext
    group = "full_refresh_job_budget"
    sc.setJobGroup(group, "full refresh job budget")
    try:
        refresh_tiers(spark, ParquetManifestCatalog(spark, str(tmp_path / "counted")), df,
                      watermark="wm", params=PARAMS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert len(jobs) <= 9, f"{len(jobs)} jobs (budget 9)"
