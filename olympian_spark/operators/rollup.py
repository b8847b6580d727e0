"""Rollup tiers: 1m / 1h / 1d continuous aggregates, plus calendar grains.

Semantics (SURVEY §2.9, north star):

- tumbling windows on ts, keys (conv_id, bucket_start);
- measures: n_turns, n_qc_fail, counts/sums/means of turn_gap_s and
  text_len, **exact p95** of turn_gap_s via the reference quantile kernel
  (f32 linear interpolation, sct.rs:70-103) — never percentile_approx;
- QC-before-rollup: rows whose ``flag_dip`` == Flag.FAIL are excluded
  from measures but counted in n_qc_fail (Warn rows are retained — the
  reference treats Warn as "inside warning threshold", not rejection);
- every tier carries a Gorilla block of its member (ts, turn_gap, text_len)
  points, and a coarse tier's sum_gap is F32 of the f64 sum of the finer
  tier's f32 partials, so a coarser tier can be refreshed *from the finer
  tier alone*: p95, mean_text_len and the block recompute from the member
  rows (decoded blocks), sum_text_len is an exact integer sum.

Execution shape (the scale story):

- :func:`rollup_tiers_fused` emits all three grains from one
  whole-partition ``mapInArrow`` stream over stage 1's partitions, with no
  shuffle of its own. Stage 1 range-partitions on (conv_id, day) and sorts
  by (conv_id, day, turn_idx), so every (conv, day) segment is whole within
  one partition and already in kernel order; the kernel handles every
  complete segment of an Arrow batch at once. A day segment is the finest
  split that keeps every output bucket whole, so a hot conversation spreads
  across partitions by day with no hot-key pre-pass, and worker memory is
  bounded by one segment plus one batch. It reads stage 1's columns and
  emits ``bucket_start`` itself: no JVM projection sits around it.
- :func:`rollup_coarser` rolls tier_1d up to calendar weeks and months,
  whose periods are irregular, with one kernel group per output bucket.
- dimension rollups are pure relational and absorb skew via map-side
  partial aggregation; :func:`salted_agg` provides two-stage aggregation
  for demonstrably-equivalent skew handling on arbitrary keys.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F

from olympian_spark.flags import Flag
from olympian_spark.functions.gorilla import decode_block, encode_blocks
from olympian_spark.operators.qc_series import DAY_US, segment_stream
from olympian_spark.oracle.quantile import compute_quantile_segmented

F32 = np.float32

_TIER_SCHEMA = (
    "conv_id string, bucket_start timestamp, n_turns long, n_qc_fail long,"
    " n_gap_obs long, n_valid_gap long, sum_gap float, mean_gap float,"
    " p95_gap float, sum_text_len long, mean_text_len float, block binary"
)


def kernel_groups(df: DataFrame, *keys: str) -> GroupedData:
    """``df`` grouped by ``keys`` for a grouped Python kernel, explicitly
    hash-partitioned by them first.

    AQE coalesces shuffle partitions by BYTES, which is the wrong heuristic
    for Python-kernel stages: a few MB of tier rows can carry thousands of
    CPU-bound kernel groups, and byte-coalescing serializes them onto one
    core. An explicit repartition (user-specified partition counts are
    respected by AQE) keeps kernel parallelism ∝ cores; the groupBy reuses
    the partitioning, so no extra exchange is added.
    """
    n = 2 * df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys).groupBy(*keys)

# grains with no fixed µs period (week is Monday-anchored, month is
# irregular): rolled up from tier_1d by rollup_coarser
_CALENDAR_GRAINS = ("week", "month")

_MINUTE_US = 60_000_000
_HOUR_US = 3_600_000_000


def _npcol(tbl: "pa.Table", name: str) -> np.ndarray:
    return tbl.column(name).to_numpy(zero_copy_only=False)


def _f32col(tbl: "pa.Table", name: str) -> np.ndarray:
    col = tbl.column(name)
    if col.null_count:
        col = col.fill_null(float("nan"))
    return col.to_numpy(zero_copy_only=False).astype(np.float32, copy=False)


def _tier_table(conv, buckets, starts, ts_us, gaps, tl, ok, partials=None) -> "pa.Table":
    """One tier row per segment ``starts[k]:starts[k+1]`` of the sorted rows.

    ``conv`` (pyarrow array) and ``buckets`` (µs; emitted as a zero-copy
    UTC timestamp view) hold one key per segment.
    Counts, the text-length sum, the blocks and the exact p95 are vectorized
    over all segments; the loop keeps only the order-sensitive float sums.
    NaN doubles as the NULL marker for the f32 measure columns (legit values
    are always finite).

    ``partials`` says where a multi-row segment's ``sum_gap`` comes from:
    None (finest grain) -> the f32 pairwise sum of its finite passing gaps;
    ``(fine_sum_gap, fstarts)`` -> F32 of the f64 nansum of the finer tier's
    f32 partials ``fine_sum_gap[fstarts[k]:fstarts[k+1]]`` (the partial+final
    decomposition; np.sum's summation order is part of the bit-exactness
    contract, so a segmented sequential reduction would not do).
    """
    nb = starts.size - 1
    counts = np.diff(starts).astype(np.int64)
    csum_ok = np.concatenate(([0], np.cumsum(ok, dtype=np.int64)))
    n_ok = csum_ok[starts[1:]] - csum_ok[starts[:-1]]
    # exact int64 sum of the passing rows' text lengths (an f32 sum drops
    # integers above 2**24)
    csum_tl = np.concatenate(([0], np.cumsum(np.where(ok, tl, 0).astype(np.int64))))
    sum_tl = csum_tl[starts[1:]] - csum_tl[starts[:-1]]

    # blocks for ALL buckets in one vectorized pass (bit-identical to the
    # per-bucket encode_block; property-tested): the block holds the
    # bucket's passing rows, so boundaries map through the ok-cumsum
    blocks = encode_blocks(ts_us[ok], [gaps[ok], tl[ok]], csum_ok[starts])
    # valid (= passing AND finite-gap) boundaries drive n_valid/n_gap_obs
    # and the segmented exact-p95 — no per-bucket quantile calls
    vmask = ok & np.isfinite(gaps)
    csum_v = np.concatenate(([0], np.cumsum(vmask, dtype=np.int64)))
    v_starts = csum_v[starts]
    n_valid = v_starts[1:] - v_starts[:-1]
    p95_gap = compute_quantile_segmented(0.95, gaps[vmask], v_starts)

    sum_gap = np.full(nb, np.nan, F32)
    mean_gap = np.full(nb, np.nan, F32)
    mean_tl = np.full(nb, np.nan, F32)

    # singleton buckets (the common case at 1m grain over sparse convs):
    # sum == mean == the value, wholly vectorized. At coarse grains exactly
    # one finer partial is finite and IS the row's f32 gap, so the f64
    # nansum reproduces it without rounding.
    sidx = np.flatnonzero(n_ok == 1)
    if sidx.size:
        row = np.flatnonzero(ok)[csum_ok[starts[sidx]]]  # the single passing row
        g0 = gaps[row]
        fin = np.isfinite(g0)
        sum_gap[sidx[fin]] = g0[fin]
        mean_gap[sidx[fin]] = g0[fin]
        mean_tl[sidx] = tl[row]

    for k in np.flatnonzero(n_ok > 1):
        lo, hi = starts[k], starts[k + 1]
        m = ok[lo:hi]
        if n_valid[k]:
            if partials is None:
                g = gaps[lo:hi][m]
                sg = F32(np.sum(g[np.isfinite(g)], dtype=F32))
            else:
                fine_sum_gap, fstarts = partials
                sg = F32(np.nansum(fine_sum_gap[fstarts[k] : fstarts[k + 1]]))
            sum_gap[k] = sg
            mean_gap[k] = F32(sg / F32(n_valid[k]))
        mean_tl[k] = F32(F32(np.sum(tl[lo:hi][m], dtype=F32)) / F32(n_ok[k]))

    return pa.table(
        {
            "conv_id": conv,
            "bucket_start": pa.array(buckets).view(pa.timestamp("us", "UTC")),
            "n_turns": pa.array(counts),
            "n_qc_fail": pa.array(counts - n_ok),
            "n_gap_obs": pa.array(n_ok - n_valid),
            "n_valid_gap": pa.array(n_valid),
            "sum_gap": pa.array(sum_gap, from_pandas=True),
            "mean_gap": pa.array(mean_gap, from_pandas=True),
            "p95_gap": pa.array(p95_gap, from_pandas=True),
            "sum_text_len": pa.array(sum_tl),
            "mean_text_len": pa.array(mean_tl, from_pandas=True),
            "block": blocks,
        }
    )


def rollup_coarser(tier_1d: DataFrame, grain: str) -> DataFrame:
    """Calendar-week or calendar-month tier from the day tier.

    Calendar-aware buckets (chronoutil RelativeDuration parity: a month
    bucket anchors at the 1st) have no fixed µs period, so the fused kernel
    does not emit them. One Arrow kernel group per output (conv_id, bucket)
    feeds the member days' decoded blocks to the same tier builder as the
    fused kernel: counts add up the day counts, sum_gap is F32 of the f64
    nansum of the day partials, and p95 / sum_text_len / mean_text_len /
    block recompute from the decoded passing rows.
    """
    if grain not in _CALENDAR_GRAINS:
        raise ValueError(f"rollup_coarser grain must be one of {_CALENDAR_GRAINS}, not {grain!r}")
    bs = F.col("bucket_start")
    base = tier_1d.select(
        "conv_id",
        F.unix_micros(F.date_trunc(grain, bs)).alias("bucket_us"),
        F.unix_micros(bs).alias("_day_us"),
        "n_turns",
        "n_qc_fail",
        "sum_gap",
        "block",
    )

    def kernel(tbl: "pa.Table") -> "pa.Table":
        tbl = tbl.take(np.argsort(_npcol(tbl, "_day_us"), kind="stable"))
        decoded = [decode_block(b) for b in tbl.column("block").to_pylist()]
        ts_us = np.concatenate([d[0] for d in decoded])
        gaps = np.concatenate([d[1][0] for d in decoded])
        tl = np.concatenate([d[1][1] for d in decoded])
        out = _tier_table(
            tbl.column("conv_id").combine_chunks()[:1],
            _npcol(tbl, "bucket_us")[:1],
            np.array([0, ts_us.size]),
            ts_us, gaps, tl, np.ones(ts_us.size, bool),
            partials=(_f32col(tbl, "sum_gap").astype(np.float64), np.array([0, tbl.num_rows])),
        )
        # blocks hold passing rows only: the turn counts come from the days
        for name in ("n_turns", "n_qc_fail"):
            total = pa.array([int(_npcol(tbl, name).sum())], pa.int64())
            out = out.set_column(out.schema.get_field_index(name), name, total)
        return out

    return kernel_groups(base, "conv_id", "bucket_us").applyInArrow(kernel, _TIER_SCHEMA)


def _fused_process(tbl: "pa.Table") -> "pa.Table":
    """All three tier grains for a sorted multi-conversation Arrow table.

    Input rows are sorted by (conv_id, day, turn_idx) and contain only
    COMPLETE (conv_id, day) segments; every output bucket (minute/hour/day)
    nests inside one segment. The hour and day tiers take their multi-row
    sum_gap from the finer tier's partials, the rest from the rows.
    """
    import pyarrow.compute as pc

    n = tbl.num_rows
    conv_flat = tbl.column("conv_id").combine_chunks()
    # dictionary codes give a vectorized adjacent-inequality over string keys
    codes = pc.dictionary_encode(conv_flat).indices.to_numpy(zero_copy_only=False)
    ts_us = _npcol(tbl, "_ts_us").astype(np.int64, copy=False)
    gaps = _f32col(tbl, "turn_gap_s")
    tl = _f32col(tbl, "text_len")
    ok = _npcol(tbl, "flag_dip") != int(Flag.FAIL)
    day = ts_us - ts_us % DAY_US  # numpy floor-mod: pre-epoch safe
    seg_change = (codes[1:] != codes[:-1]) | (day[1:] != day[:-1])
    seg_id = np.concatenate(([0], np.cumsum(seg_change)))

    def bounds(change: np.ndarray, size: int) -> np.ndarray:
        return np.concatenate(([0], np.flatnonzero(change) + 1, [size]))

    tiers = []
    fine = None  # (segment starts, tier table) of the previous, finer grain
    for grain, period in enumerate((_MINUTE_US, _HOUR_US, DAY_US)):
        bucket = ts_us - ts_us % period
        starts = bounds(seg_change | (bucket[1:] != bucket[:-1]), n)
        partials = None
        if fine is not None:
            # the finer tier's buckets, grouped by this grain's (conv, bucket)
            fine_starts, fine_tbl = fine
            fb = bucket[fine_starts[:-1]]
            fseg = seg_id[fine_starts[:-1]]
            fstarts = bounds((fseg[1:] != fseg[:-1]) | (fb[1:] != fb[:-1]), fb.size)
            partials = (_f32col(fine_tbl, "sum_gap").astype(np.float64), fstarts)
        t = _tier_table(
            conv_flat.take(pa.array(starts[:-1])), bucket[starts[:-1]], starts,
            ts_us, gaps, tl, ok, partials,
        )
        tiers.append(t.append_column("_grain", pa.array(np.full(t.num_rows, grain, np.int8))))
        fine = (starts, t)
    return pa.concat_tables(tiers)


def rollup_tiers_fused(df: DataFrame) -> DataFrame:
    """All three tiers (1m/1h/1d) in ONE streaming kernel pass, no shuffle.

    ``df`` is stage 1's output (:func:`with_gap_and_dip_parallel`): every
    (conv_id, day) segment whole within one partition, rows sorted by
    (conv_id, day, turn_idx), time as µs ``_ts_us``. Rows whose
    ``flag_dip`` is FAIL are excluded from the measures. Output is the tier
    schema plus a ``_grain`` tag (0=minute, 1=hour, 2=day). A
    whole-partition ``mapInArrow`` stream processes every complete segment
    of each Arrow batch vectorized across segments, holding back only the
    trailing one (:func:`segment_stream`), which raises
    :class:`TurnOrderError` when conv_id or _ts_us goes backwards within a
    partition — that input would otherwise split a bucket into duplicate
    rows.
    """
    def stream_kernel(batches):
        for done, _ in segment_stream(batches):
            yield from _fused_process(done).to_batches()

    return df.select("conv_id", "_ts_us", "turn_gap_s", "text_len", "flag_dip").mapInArrow(
        stream_kernel, _TIER_SCHEMA + ", _grain tinyint"
    )


def rollup_by_dimension(df: DataFrame, dim_col: str) -> DataFrame:
    """Per-role / per-tool hourly rollups — pure relational (JVM, codegen).

    groupBy(hour, dim): turn counts + mean text_len (double precision,
    SQL-oracle-checkable). Salt-free: dimension cardinality is tiny and
    map-side partial aggregation absorbs the skew.
    """
    bucket = F.date_trunc("hour", F.col("ts").cast("timestamp"))
    return (
        df.groupBy(bucket.alias("bucket_start"), F.col(dim_col))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.round(F.avg(F.col("text_len").cast("double")), 6).alias("mean_text_len"),
        )
    )


def rollup_dims_fused(df: DataFrame) -> DataFrame:
    """The hourly ``role`` and ``tool`` rollups in ONE pass over the input:
    explode each row into (_grain, dim_value) pairs (tinyint ``_grain``:
    0 = role, 1 = tool, as the write reads it), then a single groupBy.

    Output: (_grain, bucket_start, dim_value, n_turns, mean_text_len);
    per-grain slices equal :func:`rollup_by_dimension` exactly (tested).

    ``build_tiers`` uses it on its un-persisted scan-side frame: one pass
    over the input instead of one re-scan and text decode per dimension,
    with only the small (bucket x kind x value) output materialized.
    Measured (round 2, 16M turns / 32 cores): over an input that is
    already persisted it LOSES to one groupBy per dimension by ~3x — the
    explode doubles the rows entering partial aggregation, while the saved
    input scan is just a cache read.
    """
    bucket = F.date_trunc("hour", F.col("ts").cast("timestamp"))
    pairs = F.array(
        *[
            F.struct(F.lit(g).cast("tinyint").alias("_grain"),
                     F.col(d).cast("string").alias("dim_value"))
            for g, d in enumerate(("role", "tool"))
        ]
    )
    return (
        df.select(bucket.alias("bucket_start"), F.explode(pairs).alias("p"), "text_len")
        .groupBy("p._grain", "bucket_start", "p.dim_value")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.round(F.avg(F.col("text_len").cast("double")), 6).alias("mean_text_len"),
        )
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    sum_cols: dict[str, str],
    count_alias: str = "n",
    salt_buckets: int = 16,
    salt_source: str | Column | None = None,
) -> DataFrame:
    """Two-stage aggregation under key skew: partial agg on (keys + salt),
    final agg on keys. Result is identical to a plain groupBy for
    sums/counts (associative); the partial stage spreads a hot key over
    ``salt_buckets`` reducers.

    ``sum_cols``: {output_alias: input_col}. Salt defaults to a hash of a
    uniformly-distributed source column (or a partition-derived fallback).
    """
    salt = (
        F.pmod(
            F.hash(salt_source if isinstance(salt_source, Column) else F.col(salt_source)),
            F.lit(salt_buckets),
        )
        if salt_source is not None
        else F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(salt_buckets))
    )
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(
            F.count(F.lit(1)).alias("_pc"),
            *[F.sum(src).alias(f"_ps_{alias}") for alias, src in sum_cols.items()],
        )
    )
    return partial.groupBy(*keys).agg(
        F.sum("_pc").alias(count_alias),
        *[F.sum(f"_ps_{alias}").alias(alias) for alias in sum_cols],
    )
