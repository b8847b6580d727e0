"""Independent numpy oracle for the rollup tiers.

Recomputes stage 1 (turn gaps + the dip-fail policy) per conversation and
then every tier column per (conv_id, bucket), one bucket at a time, with the
scalar reference kernels (``dip_check``, ``compute_quantile``,
``encode_block``) — none of the engine's segmented or batched code paths.
"""

import numpy as np
import pandas as pd

from olympian_spark.flags import Flag
from olympian_spark.functions.gorilla import encode_block
from olympian_spark.oracle import dip_check
from olympian_spark.oracle.quantile import compute_quantile

F32 = np.float32

TIER_PERIODS_US = {
    "tier_1m": 60_000_000,
    "tier_1h": 3_600_000_000,
    "tier_1d": 86_400_000_000,
}
_F32_COLS = ("sum_gap", "mean_gap", "p95_gap", "mean_text_len")
_INT_COLS = ("n_turns", "n_qc_fail", "n_gap_obs", "n_valid_gap", "sum_text_len")


def us(series):
    """Timestamps -> int64 microseconds regardless of pandas storage unit."""
    s = series.dt.tz_localize(None) if series.dt.tz is not None else series
    return s.astype("datetime64[us]").astype("int64")


def oracle_turns(pdf, params):
    """Stage 1 per conversation in turn order: f32 gap (NaN on the first
    turn), text length and flag_dip, with dip edges DATA_MISSING."""
    rows = []
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        ts = us(g["ts"]).to_numpy()
        gap = np.full(len(g), np.nan, dtype=F32)
        gap[1:] = ((ts[1:] - ts[:-1]) / 1e6).astype(F32)
        vals = [None if np.isnan(x) else float(x) for x in gap]
        # dip needs 1 lead + 1 trail context; edges are DATA_MISSING here
        flags = [int(Flag.DATA_MISSING)] * len(vals)
        if len(vals) >= 3:
            flags[1:-1] = dip_check(vals, 1, 1, params.dip_high, params.dip_max)
        tl = g["text"].fillna("").str.len().to_numpy(F32)
        for i in range(len(g)):
            rows.append(
                (conv, int(g["turn_idx"].iloc[i]), ts[i], gap[i], tl[i], flags[i])
            )
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "ts_us", "gap", "tl", "flag_dip"]
    )


def oracle_tiers(turns):
    """Every tier column per (conv_id, bucket), from the bucket's own rows.

    - n_turns / n_qc_fail count all rows; FAIL rows are excluded from every
      measure, and the block holds the passing rows only;
    - sum_gap is the f32 pairwise sum of the finite passing gaps at 1m, and
      at 1h / 1d F32 of the f64 nansum of the finer tier's f32 partials in
      bucket order (the documented decomposition);
    - mean_gap = F32(sum_gap / F32(n_valid)); p95 and mean_text_len come
      from the passing rows; sum_text_len is an exact integer sum.

    Returns {tier: DataFrame indexed and sorted by (conv_id, bucket_us)}.
    """
    t = turns.sort_values(["conv_id", "turn_idx"], kind="stable")
    conv = t["conv_id"].to_numpy()
    ts = t["ts_us"].to_numpy(np.int64)
    gap = t["gap"].to_numpy(F32)
    tl = t["tl"].to_numpy(F32)
    ok = t["flag_dip"].to_numpy() != int(Flag.FAIL)
    out = {}
    finer_sums, finer_period = None, None
    for tier, period in TIER_PERIODS_US.items():
        bucket = ts - ts % period  # numpy floor-mod: pre-epoch safe
        rows = {}
        for (c, b), idx in pd.Series(0, index=t.index).groupby([conv, bucket]).indices.items():
            m = ok[idx]
            gap_ok, tl_ok, ts_ok = gap[idx][m], tl[idx][m], ts[idx][m]
            valid = gap_ok[np.isfinite(gap_ok)]
            nv, n_ok = valid.size, tl_ok.size
            if finer_sums is None:
                sg = F32(np.sum(valid, dtype=F32))
            else:
                members = np.unique(ts[idx] - ts[idx] % finer_period)
                partials = np.array([finer_sums[(c, f)] for f in members], np.float64)
                sg = F32(np.nansum(partials))
            rows[(c, b)] = dict(
                n_turns=idx.size,
                n_qc_fail=int((~m).sum()),
                n_gap_obs=n_ok - nv,
                n_valid_gap=nv,
                sum_gap=sg if nv else F32(np.nan),
                mean_gap=F32(sg / F32(nv)) if nv else F32(np.nan),
                p95_gap=compute_quantile(0.95, valid) if nv else F32(np.nan),
                sum_text_len=int(tl_ok.astype(np.int64).sum()),
                mean_text_len=(
                    F32(F32(np.sum(tl_ok, dtype=F32)) / F32(n_ok)) if n_ok else F32(np.nan)
                ),
                block=encode_block(ts_ok, [gap_ok, tl_ok]),
            )
        exp = pd.DataFrame.from_dict(rows, orient="index")
        exp.index.names = ["conv_id", "bucket_us"]
        out[tier] = exp.sort_index()
        finer_sums = {k: r["sum_gap"] for k, r in rows.items()}
        finer_period = period
    return out


def assert_tiers_match_oracle(got, turns):
    """``got``: {tier: engine frame as pandas}. Same (conv_id, bucket) keys
    as the oracle, integers equal, f32 columns equal by uint32 view with
    NULLs in the same places, blocks byte-equal."""
    for tier, exp in oracle_tiers(turns).items():
        g = got[tier].assign(bucket_us=us(got[tier]["bucket_start"]))
        g = g.set_index(["conv_id", "bucket_us"]).sort_index()
        assert len(g) == len(exp) > 0, f"{tier}: {len(g)} rows, oracle {len(exp)}"
        assert g.index.equals(exp.index), f"{tier}: bucket keys differ"
        for col in _INT_COLS:
            assert (g[col].to_numpy(np.int64) == exp[col].to_numpy(np.int64)).all(), (tier, col)
        for col in _F32_COLS:
            gv, ev = g[col].to_numpy(F32), exp[col].to_numpy(F32)
            null = np.isnan(ev)
            assert (np.isnan(gv) == null).all(), (tier, col, "NULL positions")
            assert (gv[~null].view(np.uint32) == ev[~null].view(np.uint32)).all(), (tier, col)
        assert all(bytes(a) == b for a, b in zip(g["block"], exp["block"])), (tier, "block")
