"""Spatial QC (buddy_check, SCT) as grouped Arrow kernels.

The spatial tests are order-dependent iterative sweeps — flags mutate
mid-sweep and are read by later stations (buddy_check.rs:84,98;
sct.rs:321,336-337,455-459) — so they are fundamentally NOT expressible as
order-independent relational dataflow (SURVEY §2.5). The engine therefore
runs each QC slice as ONE group:

    df.groupBy("slice_key").applyInPandas(kernel, schema)

with the exact NumPy f32 oracle inside the kernel (vectorized within a
station, sequential across stations, matching the reference's execution
shape). One shuffle on slice_key; slices are independent, so a 1000-executor
cluster processes thousands of slices in parallel — the parallel unit is the
slice, never the station.

Scale guard: a slice must fit one task. The reference's own scale ceiling is
~10^4 stations per slice (sct.rs:504-531) with O(num_max^3) LU per box —
kernels assert a configurable cap and fail fast instead of OOMing an
executor.

Parameters are scalar-or-per-station (buddy_check.rs:77-82 broadcast
semantics): pass a Python scalar, or name a column for per-station values.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from olympian_spark.operators.rollup import kernel_groups
from olympian_spark.oracle import spatial as _oracle

_OUT_SCHEMA = "slice_key string, station_idx int, flag tinyint"


# Fail-fast guard on per-slice station count (one slice = one task). The
# reference's practical ceiling is ~10^4 (R*-tree + num_max cap,
# sct.rs:144-147); our kernels use the same shape — a uniform-grid
# neighbour index (oracle/spatial.py:_GridIndex) makes each sweep
# output-sensitive instead of O(n²), tested to 10^5 stations in
# test_spatial_index.py. Beyond the cap, split slices upstream (slice_key
# is the parallelism unit).
MAX_SLICE_STATIONS = 200_000


def _prep(pdf: pd.DataFrame, max_stations: int) -> pd.DataFrame:
    if len(pdf) > max_stations:
        raise ValueError(
            f"spatial QC slice {pdf['slice_key'].iat[0]!r} has {len(pdf)} stations "
            f"(> {max_stations}); split the slice or raise the cap"
        )
    return pdf.sort_values("station_idx", kind="stable").reset_index(drop=True)


def buddy_check_spatial(
    df: DataFrame,
    threshold: float,
    max_elev_diff: float,
    elev_gradient: float,
    min_std: float,
    num_iterations: int,
    radius: float | str = None,
    num_min: int | str = None,
    use_obs_to_check: bool = False,
    max_stations: int = MAX_SLICE_STATIONS,
) -> DataFrame:
    """buddy_check per slice_key group (buddy_check.rs:48-153).

    ``radius`` / ``num_min``: float/int scalar (length-1 broadcast semantics)
    or a column name for per-station vectors. ``radius`` uses the reference's
    squared-chord-km² semantics (doc-test's 10000.0 == 100 km chord).
    Input df needs: slice_key, station_idx, lat, lon, elev, value
    [, obs_to_check][, radius/num_min columns].
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _prep(pdf, max_stations)
        radii = (
            pdf[radius].to_numpy(np.float32)
            if isinstance(radius, str)
            else np.asarray([radius], dtype=np.float32)
        )
        nums_min = (
            pdf[num_min].to_numpy(np.int64)
            if isinstance(num_min, str)
            else np.asarray([num_min], dtype=np.int64)
        )
        obs = pdf["obs_to_check"].to_numpy(bool) if use_obs_to_check else None
        flags = _oracle.buddy_check(
            lats=pdf["lat"].to_numpy(np.float32),
            lons=pdf["lon"].to_numpy(np.float32),
            elevs=pdf["elev"].to_numpy(np.float32),
            values=pdf["value"].to_numpy(np.float32),
            radii=radii,
            nums_min=nums_min,
            threshold=threshold,
            max_elev_diff=max_elev_diff,
            elev_gradient=elev_gradient,
            min_std=min_std,
            num_iterations=num_iterations,
            obs_to_check=obs,
        )
        return pd.DataFrame(
            {
                "slice_key": pdf["slice_key"],
                "station_idx": pdf["station_idx"].astype("int32"),
                "flag": np.asarray(flags, dtype=np.int8),
            }
        )

    return kernel_groups(df, "slice_key").applyInPandas(kernel, _OUT_SCHEMA)


def sct_spatial(
    df: DataFrame,
    num_min: int,
    num_max: int,
    inner_radius: float,
    outer_radius: float,
    num_iterations: int,
    num_min_prof: int,
    min_elev_diff: float,
    min_horizontal_scale: float,
    vertical_scale: float,
    pos: float | str,
    neg: float | str,
    eps2: float | str,
    use_obs_to_check: bool = False,
    max_stations: int = MAX_SLICE_STATIONS,
) -> DataFrame:
    """SCT per slice_key group (sct.rs:189-470).

    pos/neg/eps2: scalar or per-station column name. Scalar args are
    validated driver-side (ValueError) before any job is launched, matching
    the reference's construction-time errors (lib.rs:48-57).
    """
    # driver-side validation of scalar args (sct.rs:207-293)
    if num_min < 2:
        raise ValueError("num_min must be > 1")
    if num_max < num_min:
        raise ValueError("num_max must be >= num_min")
    if num_iterations < 1:
        raise ValueError("num_iterations must be >= 1")
    if min_elev_diff <= 0 or min_horizontal_scale <= 0 or vertical_scale <= 0:
        raise ValueError("scales must be > 0")
    if inner_radius < 0 or outer_radius < inner_radius:
        raise ValueError("invalid radii")
    for name, v in (("pos", pos), ("neg", neg), ("eps2", eps2)):
        if not isinstance(v, str):
            if name == "eps2" and v <= 0:
                raise ValueError("eps2 must be > 0")
            if name != "eps2" and v < 0:
                raise ValueError(f"{name} must be >= 0")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _prep(pdf, max_stations)
        n = len(pdf)

        def vec(p):
            return (
                pdf[p_col].to_numpy(np.float32)
                if isinstance((p_col := p), str)
                else np.full(n, p, dtype=np.float32)
            )

        obs = pdf["obs_to_check"].to_numpy(bool) if use_obs_to_check else None
        flags = _oracle.sct(
            lats=pdf["lat"].to_numpy(np.float32),
            lons=pdf["lon"].to_numpy(np.float32),
            elevs=pdf["elev"].to_numpy(np.float32),
            values=pdf["value"].to_numpy(np.float32),
            num_min=num_min,
            num_max=num_max,
            inner_radius=inner_radius,
            outer_radius=outer_radius,
            num_iterations=num_iterations,
            num_min_prof=num_min_prof,
            min_elev_diff=min_elev_diff,
            min_horizontal_scale=min_horizontal_scale,
            vertical_scale=vertical_scale,
            pos=vec(pos),
            neg=vec(neg),
            eps2=vec(eps2),
            obs_to_check=obs,
        )
        return pd.DataFrame(
            {
                "slice_key": pdf["slice_key"],
                "station_idx": pdf["station_idx"].astype("int32"),
                "flag": np.asarray(flags, dtype=np.int8),
            }
        )

    return kernel_groups(df, "slice_key").applyInPandas(kernel, _OUT_SCHEMA)
