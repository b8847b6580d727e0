"""Incremental, resumable tier refresh (north rule: checkpoint/resume with
per-partition lineage + metrics).

Model: the transcripts table grows monotonically; a refresh run is keyed by
an **input watermark** (the max ingest timestamp of the batch). A run:

1. **new days** — day partitions containing input rows newer than the last
   watermark. Under conversation scoping these partitions are complete:
   every conversation with a bucket in a new day is, by definition, in the
   affected set.
2. **boundary days** — the QC window is forward-looking by one turn
   (dip_check needs a successor), so the *last pre-watermark turn* of each
   affected conversation gets re-flagged when its successor arrives; the
   day of that turn must be rewritten too. Boundary partitions also hold
   buckets of UNAFFECTED conversations, so they are rewritten as
   (existing rows minus affected convs) UNION (recomputed rows) — a
   broadcast anti-join, never a full-table rewrite.
3. recomputes tiers over exactly the affected conversations' full turn
   history (window context), via a broadcast semi-join;
4. overwrites only (new ∪ boundary) day partitions per tier table and
   commits a manifest snapshot with per-partition rows/bytes/wall_s + the
   watermark.

Dimension rollups (role/tool) are flag-independent counts/sums, so their
boundary days never change — only new-day partitions are written for them.

Resume: every step is idempotent, and a table whose latest committed
watermark equals the current one is skipped — killing the job after any
step and rerunning converges to the same final state (tested).

Fail filter: tiers exclude dip_check FAIL turns (``flag_dip``), whose
one-turn lookahead is what bounds the boundary-day rewrite above. Flatline
FAIL could extend arbitrarily far back, so it is not a fail filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olympian_spark.plans.pipeline import QcParams, build_tiers
from olympian_spark.sources.catalog import ParquetManifestCatalog, with_bucket_date

TIER_TABLES = ("tier_1m", "tier_1h", "tier_1d")
DIM_TABLES = ("rollup_role_1h", "rollup_tool_1h")


def affected_days(transcripts: DataFrame, since_watermark: str | None) -> list[str]:
    """Day partitions touched by rows newer than the watermark."""
    df = transcripts
    if since_watermark:
        df = df.filter(F.col("ts") > F.lit(since_watermark).cast("timestamp"))
    return [
        str(r[0])
        for r in df.select(F.to_date("ts").alias("d")).distinct().orderBy("d").collect()
    ]


def refresh_tiers(
    spark: SparkSession,
    catalog: ParquetManifestCatalog,
    transcripts: DataFrame,
    watermark: str,
    since_watermark: str | None = None,
    params: QcParams = QcParams(),
    broadcast_conv_limit: int = 1_000_000,
) -> dict:
    """One incremental refresh run. Returns {table: snapshot | 'skipped'}.

    The affected-conversation set is joined into every scoping/merge join.
    Broadcasting it is only safe when it is small: a busy day at 10^12-turn
    scale has millions of distinct conv_ids, and a forced broadcast OOMs.
    The set is persisted (it is reused by up to 6 joins), counted once, and
    broadcast only under ``broadcast_conv_limit``; above the limit the joins
    fall back to shuffle semi/anti joins, which AQE may still convert.
    """
    new_days = affected_days(transcripts, since_watermark)
    if not new_days:
        return {}

    convs = (
        transcripts.filter(F.to_date("ts").isin(new_days))
        .select("conv_id")
        .distinct()
        .persist()
    )
    convs_j = F.broadcast(convs) if convs.count() <= broadcast_conv_limit else convs
    scoped = transcripts.join(convs_j, "conv_id", "left_semi")

    boundary_days: list[str] = []
    if since_watermark:
        boundary_days = [
            str(r[0])
            for r in scoped.filter(
                F.col("ts") <= F.lit(since_watermark).cast("timestamp")
            )
            .groupBy("conv_id")
            .agg(F.max("ts").alias("last_ts"))
            .select(F.to_date("last_ts").alias("d"))
            .distinct()
            .collect()
            if str(r[0]) not in set(new_days)
        ]

    tiers = build_tiers(scoped, params)
    results = {}

    def commit(table: str, recomputed: DataFrame, days: list[str], merge_days: list[str]):
        if catalog.input_watermark(table) == watermark:
            results[table] = "skipped"  # already committed for this input
            return
        # Retention interaction: a refresh recomputes from FULL turn history
        # of the affected conversations, so without this guard a boundary day
        # (or a full refresh) would silently resurrect partitions that
        # apply_retention already expired. Expiry wins: days at/before the
        # recorded cutoff are never re-written.
        cutoff = catalog.retention_cutoff(table)
        if cutoff:
            days = [d for d in days if d >= cutoff]
            merge_days = [d for d in merge_days if d >= cutoff]
            if not days and not merge_days:
                results[table] = "skipped"  # everything new is already expired
                return
        out = with_bucket_date(recomputed, "bucket_start")
        parts = out.filter(F.col("bucket_date").cast("string").isin(days))
        if merge_days:
            keep = (
                catalog.read(table)
                .filter(F.col("bucket_date").cast("string").isin(merge_days))
                .join(convs_j, "conv_id", "left_anti")
            )
            recomputed_bnd = out.filter(
                F.col("bucket_date").cast("string").isin(merge_days)
            )
            parts = parts.unionByName(keep.select(*parts.columns)).unionByName(
                recomputed_bnd
            )
        results[table] = catalog.overwrite_partitions(
            table, parts, partition_col="bucket_date", input_watermark=watermark,
            # footer-derived bucket_start bounds -> metadata-only time-range
            # skipping on every tier (catalog.read_where_between)
            stats_cols=["bucket_start"],
        )

    for table in TIER_TABLES:
        commit(table, tiers[table], new_days, boundary_days)
    for table in DIM_TABLES:
        commit(table, tiers[table], new_days, [])  # flag-independent: no boundary

    for t in ("_tagged", "_dims", "_sorted"):
        tiers[t].unpersist()
    convs.unpersist()
    return results


def apply_retention(catalog: ParquetManifestCatalog, cutoffs: dict[str, str]) -> dict:
    """Retention expiry per tier, e.g. {'tier_1m': '2024-01-15'} keeps only
    newer partitions of the finest tier while coarser tiers retain longer."""
    return {
        table: catalog.delete_where_older(table, cutoff)
        for table, cutoff in cutoffs.items()
    }
