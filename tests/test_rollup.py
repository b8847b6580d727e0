"""Tier correctness (Tier B/C):

- every column of tier_1m / tier_1h / tier_1d bit-matches the independent
  per-bucket numpy oracle in tier_oracle.py (f32 by uint32 view, blocks
  byte-equal) on the default fixture, a hot conversation, int64
  conversation keys, pre-epoch timestamps and forced Arrow batch seams
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
from olympian_spark.operators.rollup import _fused_process, rollup_tiers_fused, salted_agg
from olympian_spark.oracle.quantile import compute_quantile
from olympian_spark.plans.pipeline import QcParams, build_tiers, qc_flags

F32 = np.float32
PARAMS = QcParams(dip_high=300.0, dip_max=1200.0)
TIERS = ("tier_1m", "tier_1h", "tier_1d")


@pytest.fixture(scope="module")
def tiers(spark):
    pdf = gen_transcripts(n_turns=20_000, n_convs=60, seed=42).to_pandas()
    df = spark.createDataFrame(pdf)
    out = build_tiers(df, PARAMS)
    collected = {k: out[k].toPandas() for k in ("turns_flagged", *TIERS)}
    return pdf, collected


def _collect(tiers):
    """The three tier frames of a build_tiers run as pandas; releases the
    run's persisted frames."""
    got = {t: tiers[t].toPandas() for t in TIERS}
    for k in ("_tagged", "_dims", "_sorted"):
        tiers[k].unpersist()
    return got


def _split_grains(tagged_pdf):
    """rollup_tiers_fused's tagged output (as pandas) -> {tier: frame}."""
    return {
        t: tagged_pdf[tagged_pdf["_grain"] == g].drop(columns="_grain")
        for g, t in enumerate(TIERS)
    }


def test_stage1_flags_match_oracle(tiers):
    pdf, got = tiers
    oracle = oracle_turns(pdf, PARAMS)
    sf = got["turns_flagged"][["conv_id", "turn_idx", "flag_dip"]]
    merged = oracle.merge(sf, on=["conv_id", "turn_idx"], suffixes=("_o", "_s"))
    assert len(merged) == len(oracle)
    assert (merged["flag_dip_o"] == merged["flag_dip_s"]).all()


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


def test_tiers_match_oracle_pre_epoch(spark):
    """Turns before 1970 straddling the epoch, some exactly on a midnight:
    the kernel's (conv, day) routing key (Spark pmod) and its in-kernel
    day / hour / minute buckets (numpy floor-mod) must agree. With
    sign-of-dividend modulo a pre-epoch midnight row would be routed apart
    from the rest of its day, which would then be emitted twice."""
    day = 86_400_000_000
    rng = np.random.default_rng(5)
    rows = []
    for c in range(4):
        ts = -3 * day + np.cumsum(rng.integers(1, 3_000_000_000, 400))
        ts = np.union1d(ts, [-2 * day, -day, 0])
        gap = np.concatenate(([np.nan], np.diff(ts) / 1e6)).astype(F32)
        fail = rng.random(ts.size) < 0.1
        tl = rng.integers(0, 500, ts.size).astype(F32)
        rows += [
            (f"c{c}", i, int(ts[i]), gap[i], tl[i],
             int(Flag.FAIL) if fail[i] else int(Flag.PASS))
            for i in range(ts.size)
        ]
    turns = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "ts_us", "gap", "tl", "flag_dip"])
    assert turns["ts_us"].min() < 0 < turns["ts_us"].max()
    slim = spark.createDataFrame(
        turns.assign(gap=turns["gap"].astype(float), tl=turns["tl"].astype(float))
    ).select(
        "conv_id", "turn_idx", F.timestamp_micros("ts_us").alias("ts"),
        F.col("gap").cast("float").alias("turn_gap_s"),
        F.col("tl").cast("float").alias("text_len"), "flag_dip",
    )
    got = _split_grains(rollup_tiers_fused(slim).toPandas())
    assert_tiers_match_oracle(got, turns)


def test_sum_text_len_exact_above_f32_integers():
    """sum_text_len is an exact integer sum on every grain: 2**24 + 1 has no
    float32 representation, so an f32 accumulation of these two passing
    turns would report 2**24."""
    tbl = pa.table({
        "conv_id": ["c0", "c0"],
        "_ts_us": pa.array([0, 1_000_000], pa.int64()),
        "turn_gap_s": pa.array([None, 1.0], pa.float32()),
        "text_len": pa.array([2.0**24, 1.0], pa.float32()),
        "_is_fail": pa.array([0, 0], pa.int32()),
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
    from olympian_spark.plans.pipeline import qc_flags

    df = spark.createDataFrame(gen_transcripts(8_000, 30, seed=13).to_pandas())
    slim = qc_flags(df, QcParams(dip_high=300.0, dip_max=1200.0)).select(
        "conv_id", "ts", "role", "tool", "text_len"
    )
    dims = rollup_dims_fused(slim, ("role", "tool"), "hour").persist()
    for d in ("role", "tool"):
        a = (
            dims.filter(f"dim_kind = '{d}'").drop("dim_kind")
            .withColumnRenamed("dim_value", d)
            .orderBy("bucket_start", d).toPandas()
        )
        b = rollup_by_dimension(slim, d, "hour").orderBy("bucket_start", d).toPandas()
        assert list(a.columns) == list(b.columns)
        assert a.equals(b), f"fused dims != per-dim rollup for {d}"
    dims.unpersist()


def test_int64_key_cascade_matches_string_key(spark):
    """rollup_tiers_fused must honour int64 conv keys (the dictionary-encoded
    path COVERAGE.md advertises): with conversation keys remapped to bigint,
    the output keeps the bigint key type and every tier row still matches
    the oracle after mapping keys back. Guards the kernel's conv_id output
    against a hard-coded string type — round-2's coarse-tier regression was
    exactly that."""
    pdf = gen_transcripts(8_000, 24, seed=7).to_pandas()
    # deterministic string -> int64 dictionary encoding, full 64-bit range
    codes = {c: (i + 1) * 2**40 for i, c in enumerate(sorted(pdf["conv_id"].unique()))}
    slim = qc_flags(
        spark.createDataFrame(pdf.assign(conv_id=pdf["conv_id"].map(codes))), PARAMS
    ).select("conv_id", "turn_idx", "ts", "turn_gap_s", "text_len", "flag_dip")
    tagged = rollup_tiers_fused(slim)
    assert dict(tagged.dtypes)["conv_id"] == "bigint"
    got = tagged.toPandas()
    names = {v: k for k, v in codes.items()}
    got["conv_id"] = got["conv_id"].map(names)
    assert_tiers_match_oracle(_split_grains(got), oracle_turns(pdf, PARAMS))


def test_tier_plan_exchange_budget(spark):
    """Plan-budget regression pin: a full tier plan (stage 1 + fused
    kernel, persist=False so the WHOLE lineage shows) runs on at most TWO
    Exchanges — stage 1's range sort on (conv_id, turn_idx) (an explicit
    partition count, so AQE byte-coalescing cannot starve it) and the
    kernel's (conv, day) repartition (the conversation-skew spreader). A
    new shuffle sneaking into the hot path fails this before it costs a
    benchmark."""
    from olympian_spark.datagen import gen_transcripts
    from olympian_spark.plans.pipeline import QcParams, build_tiers

    pdf = gen_transcripts(n_turns=4000, n_convs=20, seed=3).to_pandas()
    df = spark.createDataFrame(pdf)
    tiers = build_tiers(
        df, QcParams(dip_high=300.0, dip_max=1200.0), persist=False
    )
    for name in ("tier_1m", "tier_1h", "tier_1d"):
        plan = tiers[name]._jdf.queryExecution().executedPlan().toString()
        # InMemoryRelation prints its cached child plan twice; count each
        # distinct Exchange node once
        n = len({
            line.strip().lstrip("+-: ")
            for line in plan.splitlines()
            if "Exchange " in line
        })
        assert n <= 2, f"{name}: {n} exchanges (budget 2)\n{plan[:1500]}"
