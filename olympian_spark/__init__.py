"""olympian_spark — a from-scratch PySpark-native time-series rollup,
downsample and retention engine with the QC capabilities of the reference
library (intarga/olympian v0.3.2, read at /root/reference).

Architecture (Spark-first, NOT a port):

- data model: long-format DataFrames. One univariate series = rows
  ``(series_id, spine_idx, spine_ts, value:float)`` on a dense regular spine
  (gap == NULL) — the relational image of the reference's ``SeriesCache``
  (reference src/util/mod.rs:41-60). One spatial slice = rows
  ``(slice_key, station_idx, lat, lon, elev, value, obs_to_check)`` — the
  image of ``SpatialCache`` (src/util/mod.rs:62-92).
- timeseries QC (step/dip/flatline) = window-function CASE expressions
  (JVM-side, whole-stage codegen) as library operators; the tier pipeline
  computes ``turn_gap_s`` and the dip flag in its stage 1 instead: one range
  sort on (conv_id, day), then a vectorized ``mapInArrow`` stencil.
- spatial QC (buddy_check, sct) = order-dependent iterative sweeps, hence
  grouped Arrow kernels: ``groupBy(slice_key).applyInPandas(numpy_f32_kernel)``.
- rollup tiers (1m/1h/1d) = one fused ``mapInArrow`` tier kernel over stage
  1's partitions (no further shuffle), emitting all three grains per
  (conv_id, day) segment; exact p95 via float32 linear-interpolated quantile
  (reference sct.rs:70-103), never percentile_approx.
- compression = Gorilla-style blocks (delta-of-delta timestamps, XOR floats;
  Pelkonen et al., VLDB 2015) packed with vectorized numpy inside
  applyInPandas, stored as BinaryType.
- storage = one catalog: Iceberg's copy-on-write table semantics on
  partitioned parquet + a JSON manifest (snapshots, retention DELETE,
  incremental refresh, checkpoint/resume with per-partition lineage).
"""

__version__ = "0.1.0"

from olympian_spark.flags import Flag  # noqa: F401
