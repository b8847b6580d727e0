"""Structured Streaming ingestion for the tier pipeline.

The north rule is batch-incremental (snapshot-to-snapshot refresh handles
it — plans/refresh.py), but the engine also exposes the streaming front
door for continuously-arriving transcripts:

- :func:`streaming_rollup_1m` — watermarked tumbling-window aggregation of
  the decomposable 1m measures (counts, text-len sums). Late turns within
  the watermark are folded in; the exact-p95/Gorilla columns stay on the
  batch refresh path (they need whole-bucket recompute, which the
  incremental refresh does per changed partition).
- :func:`streaming_turn_gaps` — per-conversation turn_gap_s on a stream via
  ``applyInPandasWithState``: state = (last_ts_us, last_turn_idx) per
  conv_id; each micro-batch emits gap rows for its new turns. This is the
  streaming analogue of the stage-1 lag window.

Both are tested with file sources and ``trigger(availableNow=True)``
against the batch pipeline's answers.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from olympian_spark.schemas import TRANSCRIPTS_SCHEMA


def read_transcripts_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(path)


# measures the coarser ride-along may re-aggregate by SUM (the streaming
# 1m schema); anything else — batch-tier means/p95/gorilla blocks — must
# go through the partial+final batch refresh instead
_SUM_DECOMPOSABLE = frozenset({"n_turns", "sum_text_len"})


def streaming_rollup_1m(
    stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Decomposable 1m measures with late-data handling.

    Watermark bounds state: buckets older than max(event time) - watermark
    finalize and evict. Output mode 'append' emits each bucket exactly once
    (after finalization) — the streaming partials that
    :func:`stream_rollup_to_catalog`'s ``coarser`` ride-along folds upward.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))).alias("sum_text_len"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("bucket_start"),
            "n_turns",
            "sum_text_len",
        )
    )


_GAP_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("ts_us", LongType()),
        StructField("turn_gap_s", FloatType()),
    ]
)
_GAP_STATE = StructType(
    [StructField("last_ts_us", LongType()), StructField("last_turn_idx", IntegerType())]
)


def _gap_fn(key, pdf_iter, state: GroupState):
    import numpy as np

    (conv_id,) = key
    last_ts, last_idx = state.get if state.exists else (None, None)
    # Arrow may split one key's rows across chunks in any order (small
    # maxRecordsPerBatch splits mid-key), so carrying lag state chunk-to-chunk
    # is only safe after concatenating the whole micro-batch for this key and
    # sorting ONCE. State stays two longs; the concat is bounded by the
    # micro-batch, not the stream.
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if not chunks:
        if last_ts is not None:
            state.update((last_ts, last_idx))
        yield pd.DataFrame(columns=_GAP_OUT.fieldNames())
        return
    pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
    pdf = pdf.sort_values("turn_idx")
    ts_us = (
        pdf["ts"].dt.tz_localize(None).astype("datetime64[us]").astype("int64")
        if pdf["ts"].dt.tz is not None
        else pdf["ts"].astype("datetime64[us]").astype("int64")
    ).to_numpy()
    # vectorized lag: prepend the carried state value, diff once; a
    # missing carry (first ever turn) yields NaN -> NULL gap
    prev = np.empty_like(ts_us)
    prev[1:] = ts_us[:-1]
    prev[0] = last_ts if last_ts is not None else 0
    gaps = (ts_us - prev).astype("float64") / 1e6
    gaps_f32 = pd.array(gaps.astype("float32"), dtype="Float32")
    if last_ts is None:
        gaps_f32[0] = pd.NA  # first-ever turn has no predecessor
    state.update((int(ts_us[-1]), int(pdf["turn_idx"].iloc[-1])))
    yield pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": pdf["turn_idx"].to_numpy(),
            "ts_us": ts_us,
            "turn_gap_s": gaps_f32,
        }
    )


def stream_rollup_to_catalog(
    rollup: DataFrame,
    catalog,
    table: str,
    checkpoint_dir: str,
    keys: tuple[str, ...] = ("conv_id", "bucket_start"),
    compact_every: int | None = None,
    vacuum_keep_last: int = 2,
    coarser: tuple = (),
):
    """Streaming sink into the manifest catalog: each micro-batch of
    finalized buckets is MERGED into the table's day partitions via
    ``foreachBatch`` — read the touched partitions, keep existing rows not
    superseded by the batch (anti-join on ``keys``), dynamic-partition
    overwrite, manifest commit.

    Exactly-once effect: the sink is idempotent under epoch replay (a
    re-delivered batch anti-joins away the rows it already wrote and
    rewrites the same partitions), which together with the streaming
    checkpoint gives end-to-end exactly-once for this sink — the standard
    contract for a non-transactional ``foreachBatch`` target. Returns the
    ``DataStreamWriter`` (caller picks the trigger and starts it).

    At scale: each commit touches only the day partitions present in the
    batch; with a watermark-finalized append stream those are the most
    recent day(s), so commit cost is bound by the write-amplification of
    one day partition, not table size.

    ``compact_every=N`` runs table maintenance inside every Nth epoch's
    commit: small-file compaction of fragmented partitions followed by a
    vacuum retaining the last ``vacuum_keep_last`` snapshots — a
    continuously-committing stream is exactly the writer that fragments
    partitions and accumulates superseded snapshot files.

    ``coarser`` rides the 1h/1d tiers along every commit: pairs of
    ``(table_name, grain)`` (e.g. ``(("tier_1h", "hour"), ("tier_1d",
    "day"))``). The merged frame already holds the COMPLETE finest-tier
    content of every touched day, and hour/day buckets nest within a day,
    so each coarse bucket of those days recomputes exactly from the
    decomposable partials (sum of counts/sums) and merges with the same
    anti-join-then-overwrite pattern — a streaming deployment gets 1h/1d
    freshness at finalized-1m latency instead of waiting for the batch
    refresh. Cost per epoch stays bound by the touched days, not table
    size. The ride-along re-aggregates by SUM, which is only correct for
    sum-decomposable measures — the streaming 1m schema's counts and sums.
    Non-decomposable columns (means, quantiles, Gorilla blocks — the BATCH
    tier schema) are rejected at wiring time rather than silently summed
    into wrong coarse values.
    """
    from pyspark.sql import functions as F

    from olympian_spark.sources.catalog import with_bucket_date

    if coarser:
        bad = [
            c
            for c in rollup.columns
            if c not in ("conv_id", "bucket_start", "bucket_date")
            and c not in _SUM_DECOMPOSABLE
        ]
        if bad:
            raise ValueError(
                f"coarser ride-along only supports sum-decomposable measures "
                f"{sorted(_SUM_DECOMPOSABLE)}; input carries {bad} — wire these "
                f"tiers through the batch refresh (partial+final decomposition) "
                f"instead of the streaming SUM ride-along"
            )

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = with_bucket_date(batch_df, "bucket_start")
        days = [
            str(r[0])
            for r in out.select(F.col("bucket_date").cast("string")).distinct().collect()
        ]
        if catalog.current_snapshot(table) is None:  # first commit
            merged = out
        else:
            existing = (
                catalog.read(table)
                .filter(F.col("bucket_date").cast("string").isin(days))
                .join(out.select(*keys).distinct(), list(keys), "left_anti")
            )
            merged = out.unionByName(existing.select(*out.columns))
        if coarser:
            merged = merged.persist()  # 3 consumers; bounded by touched days
        catalog.overwrite_partitions(
            table, merged, input_watermark=f"epoch={epoch_id}"
        )
        for ctable, grain in coarser:
            measures = [
                c for c in merged.columns
                if c not in ("conv_id", "bucket_start", "bucket_date")
            ]
            coarse = (
                merged.groupBy(
                    F.date_trunc(grain, "bucket_start").alias("bucket_start"),
                    "conv_id",
                )
                .agg(*[F.sum(m).alias(m) for m in measures])
                .select("conv_id", "bucket_start", *measures)
            )
            coarse = with_bucket_date(coarse, "bucket_start")
            if catalog.current_snapshot(ctable) is None:
                cmerged = coarse
            else:
                cexisting = (
                    catalog.read(ctable)
                    .filter(F.col("bucket_date").cast("string").isin(days))
                    .join(coarse.select(*keys).distinct(), list(keys), "left_anti")
                )
                cmerged = coarse.unionByName(cexisting.select(*coarse.columns))
            catalog.overwrite_partitions(
                ctable, cmerged, input_watermark=f"epoch={epoch_id}"
            )
        if coarser:
            merged.unpersist()
        # maintenance ride-along (parquet fallback catalog; real Iceberg
        # schedules rewrite_data_files/expireSnapshots out of band)
        if (
            compact_every
            and epoch_id > 0
            and epoch_id % compact_every == 0
            and hasattr(catalog, "compact_partitions")
        ):
            if catalog.compact_partitions(table) is not None:
                catalog.expire_snapshots(table, keep_last=vacuum_keep_last)

    return (
        rollup.writeStream.foreachBatch(commit)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )


def streaming_turn_gaps(stream: DataFrame) -> DataFrame:
    """Per-conversation turn gaps with persistent per-conv state.

    Assumes per-conversation event-time order across micro-batches (the
    transcripts contract: turn_idx monotone in ts). State is two longs per
    live conversation — bounded, evictable via timeout in production."""
    return (
        stream.select("conv_id", "turn_idx", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _gap_fn,
            _GAP_OUT,
            _GAP_STATE,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def streaming_sessions(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-conversation session windows on a stream (Structured
    Streaming's native ``session_window``: gap-based windows that merge
    as events arrive; state finalizes and evicts once the watermark
    passes a session's end — the streaming analogue of the batch
    sessionize (q16) lag-gap logic).

    Output per closed session: conv_id, session_start/end, n_turns,
    sum_text_len. Append mode emits each session exactly once."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("sum_text_len"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_turns",
            "sum_text_len",
        )
    )
