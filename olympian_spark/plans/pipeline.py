"""End-to-end rollup pipeline (SURVEY §3.4).

transcripts
  -> scan-side narrow projection (not cached): text replaced by text_len;
     role/tool kept here ONLY for the dimension rollups
  -> stage 1 (range shuffle on (conv_id, day), moving just
     conv_id/turn_idx/ts/text_len; sorted by (conv_id, day, turn_idx)):
     turn_gap_s + flag_dip from a parallel sort plus a 2-row edge stitch
     (with_gap_and_dip_parallel)
  -> fused tier Arrow kernel on stage 1's partitions, no second shuffle —
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

    A NULL ``ts``, or ``ts`` going backwards in ``turn_idx`` order within a
    conversation, makes the first action on a tier raise
    :class:`~olympian_spark.operators.qc_series.TurnOrderError`.
    """
    # The narrow frame sits BELOW the stage-1 exchange and carries ONLY what
    # downstream consumes: text replaced by its 4-byte length (the string
    # must never cross the shuffle). role/tool live here for the dimension
    # rollups, which need NO stage-1 output (ts + dim + text_len only), so
    # the exchange moves exactly (conv_id, turn_idx, ts, text_len) per row.
    #
    # Not persisted: its consumers are the QC/kernel chain (exactly once)
    # and the dimension rollups, which never reference turn_idx, so they
    # recompute from a pruned scan + aggregate — cheaper than a row-cache
    # materialization barrier over the whole turn stream.
    pre = df.select(
        "conv_id", "turn_idx", "ts", "role", "tool",
        F.length(F.coalesce(F.col("text"), F.lit(""))).cast("float").alias("text_len"),
    )
    # Stage 1: turn_gap_s + flag_dip from a RANGE-partitioned parallel sort
    # + 2-row boundary stitch instead of per-conversation windows. Window
    # semantics require a whole conversation per partition, so a
    # pathologically hot conversation serializes stage 1 behind one task
    # (measured: 146s of a 223s 64M-turn pipeline, two conversations holding
    # 91% of rows); the range key (conv_id, day) spreads it across every
    # partition by day. Flag/gap parity with the window path is tested
    # directly. The explicit n_part also sidesteps AQE's byte-based
    # coalescing (sorted narrow rows compress to ~1 byte/row, which once
    # starved this stage to 10 partitions on 32 cores).
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
    return {
        "_tagged": tagged,
        "_dims": dims,
        "_sorted": sorted_handle,
        "tier_1m": tagged.filter("_grain = 0").drop("_grain"),
        "tier_1h": tagged.filter("_grain = 1").drop("_grain"),
        "tier_1d": tagged.filter("_grain = 2").drop("_grain"),
        "rollup_role_1h": (
            dims.filter("dim_kind = 'role'").drop("dim_kind")
            .withColumnRenamed("dim_value", "role")
        ),
        "rollup_tool_1h": (
            dims.filter("dim_kind = 'tool'").drop("dim_kind")
            .withColumnRenamed("dim_value", "tool")
        ),
    }
