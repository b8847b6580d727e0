"""Timeseries QC: window-function CASE operators and the stage-1 stencil.

step_check / dip_check / flatline_check re-expressed relationally: the
reference's width-2/3 sliding windows (step_check.rs:24-26,
dip_check.rs:33-35) become ``lag``/``lead`` over a per-series ordered window
— JVM-side and whole-stage-codegen'd. These window forms are library
operators and the reference the tests hold the stencil to.

The tier pipeline's hot path is :func:`with_gap_and_dip_parallel`: a range
sort plus a vectorized Arrow stencil (``mapInArrow``) computing
``turn_gap_s`` and ``flag_dip`` without per-conversation windows, so a hot
conversation does not serialize behind one task.

f32 parity: value columns stay FloatType and every literal is cast to float,
so Spark's float arithmetic reproduces the reference's f32 ops bit-for-bit
(float-float subtraction, abs, compare — all exact f32 in the JVM).

NaN parity: Spark orders NaN greater than everything and NaN==NaN true —
the opposite of Rust f32 comparison semantics where every NaN compare is
false. Explicit isnan() guards restore reference behaviour (a NaN window
yields PASS in step/dip; NaN never extends a flatline run).

Run these over the gap-filled spine (NULL = gap) so ``lag`` sees gaps exactly
as the reference's ``windows(2/3)`` sees ``None``; or directly over raw turn
series where every turn is an observation.
"""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from olympian_spark.flags import Flag

F32 = np.float32
DAY_US = 86_400_000_000

def PASS() -> Column:
    return F.lit(int(Flag.PASS))


def FAIL() -> Column:
    return F.lit(int(Flag.FAIL))


def WARN() -> Column:
    return F.lit(int(Flag.WARN))


def DATA_MISSING() -> Column:
    return F.lit(int(Flag.DATA_MISSING))


def _f32(x: float) -> Column:
    return F.lit(float(x)).cast("float")


def step_flag(
    value_col: str, series_col: str, order_col: str, high: float, max_: float
) -> Column:
    """Flag column for step_check (step_check.rs:16-44).

    The flag belongs to the window's successor (the current row); the first
    row of each series has no predecessor -> DATA_MISSING, which corresponds
    to the reference's leading-context trim: callers restrict to
    ``order_col >= num_leading_points`` to reproduce exact output alignment.

    REPLICATED BUG: Warn tested before Fail (step_check.rs:35-41) — with
    conventional high < max_ every exceedance is WARN and FAIL is
    unreachable. Matching the code, not the doc.
    """
    w = Window.partitionBy(series_col).orderBy(order_col)
    prev = F.lag(F.col(value_col)).over(w)
    cur = F.col(value_col)
    diff = F.abs(prev - cur)  # float - float stays float
    return (
        F.when(prev.isNull() | cur.isNull(), DATA_MISSING())
        .when(F.isnan(prev) | F.isnan(cur), PASS())  # Rust: NaN compares false
        .when(diff > _f32(high), WARN())
        .when(diff > _f32(max_), FAIL())
        .otherwise(PASS())
        .cast("tinyint")
    )


def dip_flag(
    value_col: str, series_col: str, order_col: str, high: float, max_: float
) -> Column:
    """Flag column for dip_check / spike test (dip_check.rs:21-62).

    Flag belongs to the middle point; first/last rows of a series have no
    neighbour -> DATA_MISSING (context trim as in step_flag).
    """
    w = Window.partitionBy(series_col).orderBy(order_col)
    d0 = F.lag(F.col(value_col)).over(w)
    d1 = F.col(value_col)
    d2 = F.lead(F.col(value_col)).over(w)
    a = F.abs(d2 - d1)
    b = F.abs(d1 - d0)
    diffsum = F.abs(a + b)
    diffdiff = F.abs(a - b)
    is_extremum = ((d2 < d1) & (d0 < d1)) | ((d2 > d1) & (d0 > d1))
    return (
        F.when(d0.isNull() | d1.isNull() | d2.isNull(), DATA_MISSING())
        .when(F.isnan(d0) | F.isnan(d1) | F.isnan(d2), PASS())
        .when(
            is_extremum & (diffdiff < diffsum * _f32(0.35)),
            F.when(diffsum > _f32(max_), FAIL())
            .when(diffsum > _f32(high), WARN())
            .otherwise(PASS()),
        )
        .otherwise(PASS())
        .cast("tinyint")
    )


def with_flatline_flag(
    df: DataFrame,
    value_col: str,
    series_col: str,
    order_col: str,
    min_run: int,
    out_col: str = "flag_flatline",
) -> DataFrame:
    """Engine-added flatline check: FAIL every point in a run of >= min_run
    consecutive equal non-gap values; gaps are DATA_MISSING and break runs.

    Two-phase relational plan: (1) run ids via a cumulative sum of
    change-indicators over the existing (series|order) window; (2) run
    length via a count window over (series, run_id). The series-level hash
    partitioning already satisfies the (series, run_id) clustered
    distribution, so phase 2 costs a sort, not a shuffle (verified with
    explain: the whole QC stage plans exactly two exchanges). NaN breaks
    runs (Rust NaN != NaN).
    """
    if min_run < 2:
        raise ValueError("min_run must be >= 2")
    w = Window.partitionBy(series_col).orderBy(order_col)
    v = F.col(value_col)
    prev = F.lag(v).over(w)
    nan_break = F.isnan(v) | (~F.isnull(prev) & F.isnan(prev))
    change = F.when(
        v.isNull() | prev.isNull() | nan_break | (v != prev), F.lit(1)
    ).otherwise(F.lit(0))
    run = df.withColumn("_run_id", F.sum(change).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    wr = Window.partitionBy(series_col, "_run_id")
    flag = (
        F.when(v.isNull(), DATA_MISSING())
        .when((F.count(F.lit(1)).over(wr) >= min_run) & ~F.isnan(v), FAIL())
        .otherwise(PASS())
        .cast("tinyint")
    )
    return run.withColumn(out_col, flag).drop("_run_id")


class TurnOrderError(ValueError):
    """Turns break the stream order the stage-1 stencil and the tier kernel
    rely on: a NULL ``ts``, rows not sorted by conversation, or ``ts`` /
    ``turn_idx`` going backwards within a conversation (the transcripts
    contract is that turn_idx is monotone in ts)."""


class StaleLayoutError(RuntimeError):
    """A stage-1 partition starts or ends on a row the edge pass did not
    record: the range sort was recomputed with other bounds after its
    persisted copy was released, so the stitch context does not fit."""


def segment_stream(batches, order=("_ts_us",), before=None):
    """Whole (conv_id, day) segments of a sorted Arrow batch stream.

    Yields ``(done, held)``: ``done`` holds complete segments only, ``held``
    the rows held back behind them (the trailing, possibly incomplete
    segment), or None after the last segment. Memory is bounded by one
    segment plus one batch. The day is the floor-mod day of ``_ts_us``.

    Checks, along the stream and across batch seams, the order every kernel
    on it relies on: ``_ts_us`` is never NULL, conv_id never decreases, and
    within a conversation no ``order`` column decreases. ``before`` is the
    row preceding the stream (a table of ``("conv_id", *order)``), so a
    partition seam is checked too. Raises :class:`TurnOrderError`.
    """
    cols = ["conv_id", *order]
    held: list = []
    last = before
    for rb in batches:
        if rb.num_rows == 0:
            continue
        t = pa.Table.from_batches([rb])
        keys = t.select(cols)
        lag = 0
        if last is not None and last.num_rows:
            # promote: edge rows collected through Spark are always nullable
            keys, lag = pa.concat_tables([last, keys], promote_options="default"), 1
        if keys.column("_ts_us").null_count:
            raise TurnOrderError("NULL ts")
        conv = keys.column("conv_id").combine_chunks()
        if pc.any(pc.less(conv[1:], conv[:-1])).as_py():
            raise TurnOrderError("rows are not sorted by conv_id")
        same = pc.equal(conv[1:], conv[:-1]).to_numpy(zero_copy_only=False)
        for c in order:
            v = keys.column(c).to_numpy()
            back = np.flatnonzero(same & (v[1:] < v[:-1]))
            if back.size:
                raise TurnOrderError(
                    f"{c} goes backwards in conversation {conv[int(back[0])].as_py()!r}"
                )
        ts = keys.column("_ts_us").to_numpy()
        day = ts - ts % DAY_US  # numpy floor-mod: pre-epoch safe
        breaks = np.flatnonzero(~same | (day[1:] != day[:-1]))
        last = keys.slice(keys.num_rows - 1)
        if breaks.size == 0:
            held.append(t)  # t continues the held segment
            continue
        start = int(breaks[-1]) + 1 - lag  # first row of t's trailing segment
        done = pa.concat_tables([*held, t.slice(0, start)])
        held = [t.slice(start)]
        if done.num_rows:
            yield done, held[0]
    if held:
        yield pa.concat_tables(held), None


_KEYS = ("conv_id", "_ts_us", "turn_idx")  # stencil context columns


def _row(tbl, i: int) -> tuple:
    """The ``_KEYS`` values of row ``i`` (negative: from the end)."""
    i %= tbl.num_rows
    return tuple(tbl.column(k)[i].as_py() for k in _KEYS)


def with_gap_and_dip_parallel(
    df: DataFrame,
    dip_high: float,
    dip_max: float,
    n_part: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``turn_gap_s`` + ``flag_dip`` without per-conversation windows: a
    RANGE-partitioned parallel sort plus a 2-row boundary stitch.

    The window formulation (:func:`dip_flag`) requires every conversation in
    ONE partition, so a pathologically hot conversation serializes the sort
    and the whole tier pipeline behind one task (measured: a 64M-turn input
    whose two largest conversations hold 91% of rows spent 146s of a 223s
    pipeline in that straggler). But gap and dip are 2-/5-row stencils in
    turn order — they need only each row's ±2 neighbours, not the whole
    conversation. So:

    1. ``ts`` becomes its epoch µs ``_ts_us``, then
       ``repartitionByRange(conv_id, day)`` + a local sort by (conv_id, day,
       turn_idx, _ts_us), the day by floor-mod (``pmod``) like the tier kernel.
       Equal range keys land in one partition, so every (conv, day) segment
       is whole within one partition and already in tier-kernel order, while
       a hot conversation still spreads across partitions by day. Persisted,
       because range boundaries are sampled per execution and both following
       passes must see identical partitions.
    2. A boundary pass collects each partition's first/last two rows
       (bounded driver collect: 4 rows x n_part), keyed by first row.
    3. A whole-partition ``mapInArrow`` computes gaps and dip flags
       vectorized over each run of complete segments from
       :func:`segment_stream`: two rows of lead context from the previous
       run or the preceding partitions' edge rows, one row of lookahead from
       the held segment or the following partitions' edge rows.
       Conversation changes mask the stencil exactly like the window's
       partition bound.

    One sort order serves both kernels only if ``ts`` is non-decreasing in
    ``turn_idx`` order within a conversation; the stencil checks that along
    the stream and across partition seams, and raises
    :class:`TurnOrderError` (also on a NULL ``ts``).

    Flag parity contract: gap series derived from timestamps carry no
    genuine NaNs, so SQL NULL (no neighbour) and NaN coincide and the
    emitted flag matches :func:`dip_flag` exactly (tested); downstream tier
    kernels only consume ``flag_dip == FAIL`` and treat NULL/NaN gaps
    identically, so tiers are bit-identical either way.

    Returns ``(flagged, sorted_handle)``: ``flagged`` is ``df`` with ``ts``
    replaced by ``_ts_us``, plus ``turn_gap_s`` and ``flag_dip``; read it
    before unpersisting the handle (else :class:`StaleLayoutError`).
    """
    if n_part is None:
        n_part = 2 * df.sparkSession.sparkContext.defaultParallelism
    day = F.col("_ts_us") - F.pmod(F.col("_ts_us"), F.lit(DAY_US))
    ts_us = F.unix_micros(F.col("ts").cast("timestamp")).alias("_ts_us")
    srt = (
        df.select(*(ts_us if c == "ts" else c for c in df.columns))
        .repartitionByRange(n_part, "conv_id", day)
        .sortWithinPartitions("conv_id", day, "turn_idx", "_ts_us")
        .persist()
    )

    # ---- pass 1: per-partition edge rows (first/last 2) -------------------
    def edge_fn(batches):
        from pyspark import TaskContext

        head = tail = None
        for rb in batches:
            t = pa.Table.from_batches([rb])
            head = (t if head is None else pa.concat_tables([head, t])).slice(0, 2)
            tail = t if tail is None else pa.concat_tables([tail, t])
            tail = tail.slice(max(0, tail.num_rows - 2))
        if head is not None and head.num_rows:
            pid = TaskContext.get().partitionId()
            for is_head, part in ((True, head), (False, tail)):
                n = part.num_rows
                yield from (
                    part.append_column("pid", pa.array(np.full(n, pid, np.int32)))
                    .append_column("is_head", pa.array(np.full(n, is_head)))
                    .to_batches()
                )

    edge_in = srt.select(*_KEYS)
    edge_schema = ", ".join(f"{k} {t}" for k, t in edge_in.dtypes) + ", pid int, is_head boolean"
    edges = edge_in.mapInArrow(edge_fn, edge_schema).toArrow()
    heads, tails = {}, {}
    for p in np.unique(edges.column("pid").to_numpy()).tolist():
        part = edges.filter(pc.equal(edges.column("pid"), p))
        heads[p] = part.filter(part.column("is_head")).select(_KEYS)
        tails[p] = part.filter(pc.invert(part.column("is_head"))).select(_KEYS)

    # leading context = the 2 rows globally preceding each partition's first
    # row; trailing = the 2 rows following its last. Every listed partition
    # holds a row, so two neighbours on each side always suffice. Keyed by
    # first row (distinct: equal range keys share a partition), not by task
    # partition id, which a union numbers past the first branch's.
    empty = edges.select(_KEYS).slice(0, 0)
    pids = sorted(heads)
    ctx: dict[tuple, tuple] = {}
    for i, p in enumerate(pids):
        lead = pa.concat_tables([empty, *(tails[q] for q in pids[max(0, i - 2) : i])])
        trail = pa.concat_tables([empty, *(heads[q] for q in pids[i + 1 : i + 3])])
        ctx[_row(heads[p], 0)] = (
            lead.slice(max(0, lead.num_rows - 2)), trail.slice(0, 2), _row(tails[p], -1)
        )

    # ---- pass 2: vectorized stencil over the sorted partitions ------------
    high_f = F32(dip_high)
    max_f = F32(dip_max)

    def _flags(conv_codes, ts):
        n = conv_codes.size
        same_prev = np.zeros(n, bool)
        same_prev[1:] = conv_codes[1:] == conv_codes[:-1]
        gap = np.full(n, np.nan, F32)
        gap[1:] = ((ts[1:] - ts[:-1]).astype(np.float64) / 1e6).astype(F32)
        gap[~same_prev] = np.nan
        d0 = np.full(n, np.nan, F32)
        d0[1:] = gap[:-1]
        d0[~same_prev] = np.nan
        d2 = np.full(n, np.nan, F32)
        d2[:-1] = gap[1:]
        same_next = np.zeros(n, bool)
        same_next[:-1] = same_prev[1:]
        d2[~same_next] = np.nan
        d1 = gap
        with np.errstate(invalid="ignore"):
            a = np.abs(d2 - d1)
            b = np.abs(d1 - d0)
            diffsum = np.abs(a + b)
            diffdiff = np.abs(a - b)
            extremum = ((d2 < d1) & (d0 < d1)) | ((d2 > d1) & (d0 > d1))
            inner = extremum & (diffdiff < diffsum * F32(0.35))
            missing = np.isnan(d0) | np.isnan(d1) | np.isnan(d2)
            flag = np.where(
                missing,
                np.int8(int(Flag.DATA_MISSING)),
                np.where(
                    inner & (diffsum > max_f),
                    np.int8(int(Flag.FAIL)),
                    np.where(
                        inner & (diffsum > high_f),
                        np.int8(int(Flag.WARN)),
                        np.int8(int(Flag.PASS)),
                    ),
                ),
            ).astype(np.int8)
        return gap, flag

    def stencil_fn(batches):
        batches = (rb for rb in batches if rb.num_rows)
        first = next(batches, None)
        if first is None:  # a partition with no rows
            return
        key = _row(first, 0)
        if key not in ctx:
            raise StaleLayoutError(f"no stage-1 partition started at {key}")
        lead, trail, last = ctx[key]
        for done, held in segment_stream(itertools.chain([first], batches), _KEYS[1:], lead[-1:]):
            if held is None and _row(done, -1) != last:
                raise StaleLayoutError(f"stage-1 partition ends at {_row(done, -1)}, not {last}")
            look = (trail if held is None else held.select(_KEYS)).slice(0, 1)
            ext = pa.concat_tables([lead, done.select(_KEYS), look], promote_options="default")
            codes = (
                pc.dictionary_encode(ext.column("conv_id").combine_chunks())
                .indices.to_numpy(zero_copy_only=False)
            )
            gap, flag = _flags(codes, ext.column("_ts_us").to_numpy())
            own = slice(lead.num_rows, lead.num_rows + done.num_rows)
            yield from (
                done.append_column("turn_gap_s", pa.array(gap[own], pa.float32()))
                .append_column("flag_dip", pa.array(flag[own], pa.int8()))
                .to_batches()
            )
            lead = ext.slice(max(0, own.stop - 2), min(2, own.stop))

    out_schema = ", ".join(
        f"{name} {dtype}" for name, dtype in srt.dtypes
    ) + ", turn_gap_s float, flag_dip tinyint"
    flagged = srt.mapInArrow(stencil_fn, out_schema)
    return flagged, srt
