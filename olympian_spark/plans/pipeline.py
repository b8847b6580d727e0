"""End-to-end rollup pipeline (SURVEY §3.4).

transcripts
  -> scan-side narrow projection (not cached): text replaced by text_len;
     role/tool kept here ONLY for the dimension rollups
  -> stage 1 (range shuffle on (conv_id, day), moving just
     conv_id/turn_idx/_ts_us/text_len; sorted by (conv_id, day, turn_idx)):
     turn_gap_s + flag_dip from a parallel sort plus a 2-row edge stitch
     (with_gap_and_dip_parallel)
  -> fused tier Arrow kernel on stage 1's columns, no second shuffle —
     f32 measures + exact p95 + Gorilla block for 1m/1h/1d in one pass
  -> dimension rollups (role/tool) in one fused pass over the scan-side
     projection: they need no stage-1 output, so the dimension strings
     never cross the stage-1 exchange.

QC policy: dip_check FAIL excludes a turn from measures (spike = bad
latency sample); its thresholds are explicit parameters. Callers that
want every flag compose the window operators of ``qc_series``
(step/dip/flatline).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from olympian_spark.operators.qc_series import with_gap_and_dip_parallel
from olympian_spark.operators.rollup import rollup_dims_fused, rollup_tiers_fused

# a row of _tagged / _dims belongs to the table at its _grain index here
TIER_TABLES = ("tier_1m", "tier_1h", "tier_1d")
DIM_TABLES = ("rollup_role_1h", "rollup_tool_1h")
# both dimension tables store their value column as dim_value
DIM_COLUMNS = {"rollup_role_1h": {"dim_value": "role"}, "rollup_tool_1h": {"dim_value": "tool"}}


@dataclass
class QcParams:
    """dip_check thresholds [s] on turn_gap_s (dip_check.rs)."""

    dip_high: float = 1800.0
    dip_max: float = 7200.0


def build_tiers(
    df: DataFrame, params: QcParams = QcParams(), persist: bool = True
) -> dict[str, DataFrame]:
    """The five tier tables from a transcripts DataFrame, plus three handles.

    ``persist`` caches the fused kernel's tagged output and the dimension
    rollups, so the three tier slices and the two dimension slices do not
    each recompute the upstream DAG; False leaves materialization to the
    caller's write barriers. ``_sorted`` is stage 1's persisted range sort
    (stage 1 runs jobs when it is built); the caller unpersists ``_tagged``,
    ``_dims`` and ``_sorted`` when done, and nothing else stays cached.
    Read the tiers before ``_sorted`` is released: a read after that raises
    :class:`~olympian_spark.operators.qc_series.StaleLayoutError` if the
    recomputed range sort drew other bounds.

    A NULL ``ts``, or ``ts`` going backwards in ``turn_idx`` order within a
    conversation, makes the first action on a tier raise
    :class:`~olympian_spark.operators.qc_series.TurnOrderError`.
    """
    # The narrow frame sits BELOW the stage-1 exchange and carries ONLY what
    # downstream consumes: text replaced by its 4-byte length (the string
    # must never cross the shuffle). role/tool live here for the dimension
    # rollups, which need NO stage-1 output (ts + dim + text_len only), so
    # the exchange moves exactly (conv_id, turn_idx, _ts_us, text_len) per row.
    #
    # Not persisted: its consumers are the QC/kernel chain (exactly once)
    # and the dimension rollups, which never reference turn_idx, so they
    # recompute from a pruned scan + aggregate — cheaper than a row-cache
    # materialization barrier over the whole turn stream.
    pre = df.select(
        "conv_id", "turn_idx", "ts", "role", "tool",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("float").alias("text_len"),
    )
    # Stage 1 spreads a hot conversation across partitions by day (see
    # with_gap_and_dip_parallel). Its explicit n_part sidesteps AQE's
    # byte-based coalescing (sorted narrow rows compress to ~1 byte/row,
    # which once starved this stage to 10 partitions on 32 cores).
    slim, sorted_handle = with_gap_and_dip_parallel(
        pre.drop("role", "tool"), params.dip_high, params.dip_max
    )
    # The tier kernel rides stage 1's layout: every (conv, day) segment is
    # whole within one partition and already in kernel order, so the ~25µs/row
    # Python kernel of a hot conversation is spread by day (its 67k day
    # segments in the 16M-turn input) without a second shuffle.
    tagged = rollup_tiers_fused(slim)
    # Both dimensions in one pass over the un-persisted scan (one re-scan
    # and text decode instead of one per dimension); slices are exactly
    # rollup_by_dimension's schema (tested).
    dims = rollup_dims_fused(pre)
    if persist:
        tagged, dims = tagged.persist(), dims.persist()
    out = {"_tagged": tagged, "_dims": dims, "_sorted": sorted_handle}
    for grain, table in enumerate(TIER_TABLES):
        out[table] = tagged.filter(f"_grain = {grain}").drop("_grain")
    for grain, table in enumerate(DIM_TABLES):
        dim = dims.filter(f"_grain = {grain}").drop("_grain")
        out[table] = dim.withColumnsRenamed(DIM_COLUMNS[table])
    return out
