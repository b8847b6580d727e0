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
   (existing rows minus affected convs) UNION (recomputed rows) — an
   anti-join, never a full-table rewrite. The existing rows are read with
   ``ParquetManifestCatalog.read_days``: only the boundary days are
   planned and scanned, however long the table's history.
3. **scope** — a full refresh (no ``since_watermark``) affects every day
   and every conversation, so it recomputes the input as-is and runs no
   scoping job. An incremental one recomputes tiers over exactly the
   affected conversations' full turn history (window context), via a
   semi-join;
4. **write** — the three tier tables go out in ONE Spark write
   (``ParquetManifestCatalog.overwrite_grouped``): rows tagged with their
   ``_grain`` are written with ``partitionBy("_grain", "bucket_date")``
   into a staging directory, then each grain's directory moves into its
   table's fresh snapshot directory. A full refresh writes every partition
   present; an incremental one only (new ∪ boundary) day partitions. Each
   table commits its own manifest snapshot with per-partition
   rows/bytes/wall_s + the watermark. The two dimension tables go out the
   same way in a second write, tagged ``_grain`` 0 (role) or 1 (tool).

Dimension rollups (role/tool) are flag-independent counts/sums, so their
boundary days never change — only new-day partitions are written for them.
Their value columns differ (``role`` vs ``tool``), so their files store it
as ``dim_value`` and each snapshot records the logical name
(``DIM_COLUMNS``); catalog reads return ``role`` / ``tool``.

Resume: every step is idempotent, and a table whose latest committed
watermark equals the current one is skipped (it is left out of its
grouped write) — killing the job after any
step and rerunning converges to the same final state (tested).

Fail filter: tiers exclude dip_check FAIL turns (``flag_dip``), whose
one-turn lookahead is what bounds the boundary-day rewrite above. Flatline
FAIL could extend arbitrarily far back, so it is not a fail filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from olympian_spark.plans.pipeline import (
    DIM_COLUMNS, DIM_TABLES, TIER_TABLES, QcParams, build_tiers,
)
from olympian_spark.sources.catalog import ParquetManifestCatalog, with_bucket_date


def affected_days(transcripts: DataFrame, since_watermark: str) -> list[str]:
    """Day partitions touched by rows newer than the watermark, sorted.

    The few distinct day strings are sorted on the driver: an ``orderBy``
    would add a range-sort (sample + exchange) to the collect.
    """
    df = transcripts.filter(F.col("ts") > F.lit(since_watermark).cast("timestamp"))
    return sorted(
        str(r[0]) for r in df.select(F.to_date("ts").alias("d")).distinct().collect()
    )


def _scope(catalog: ParquetManifestCatalog, table: str, days: list[str] | None):
    """Row filter on ``bucket_date`` for what this run writes to ``table``:
    ``days`` (None: every day), minus the days the table's retention cutoff
    expired. None when no day is left.

    A refresh recomputes from the FULL turn history of the conversations it
    covers, so without this guard a boundary day (or a full refresh) would
    silently resurrect partitions that apply_retention already expired.
    Expiry wins: days before the recorded cutoff are never re-written.
    """
    day = F.col("bucket_date").cast("string")
    if days is None:
        cutoff = catalog.retention_cutoff(table)
        return day >= cutoff if cutoff else F.lit(True)
    days = _unexpired(catalog, table, days)
    return day.isin(days) if days else None


def _unexpired(catalog: ParquetManifestCatalog, table: str, days: list[str]) -> list[str]:
    """The days of ``days`` that ``table``'s retention cutoff keeps."""
    cutoff = catalog.retention_cutoff(table)
    return [d for d in days if not cutoff or d >= cutoff]


def refresh_tiers(
    spark: SparkSession,
    catalog: ParquetManifestCatalog,
    transcripts: DataFrame,
    watermark: str,
    since_watermark: str | None = None,
    params: QcParams = QcParams(),
) -> dict:
    """One refresh run. Returns {table: snapshot | 'skipped'}, or {} when
    there is nothing to refresh (no new rows, or a full refresh that commits
    nothing: an empty input, or one whose rows all fall before the retention
    cutoffs).

    ``since_watermark=None`` is a full refresh: every day and every
    conversation is affected, so the input is used as-is and no scoping
    job runs. Otherwise the run is incremental and scoped to the affected
    conversations. That set is read by the scoping semi-join and by the
    boundary-day anti-join of each tier table, so it is persisted. It is
    not broadcast by hint: a busy day at 10^12-turn scale has millions of
    distinct conv_ids, and a forced broadcast OOMs. AQE (on in
    ``get_spark``) turns the joins into broadcasts at runtime when the set
    is small, and leaves them shuffle joins when it is not.
    """
    full = not since_watermark
    convs = None
    new_days: list[str] | None = None  # None: every day (full refresh)
    boundary_days: list[str] = []
    if not full:
        new_days = affected_days(transcripts, since_watermark)
        if not new_days:
            return {}
        convs = (
            transcripts.filter(F.to_date("ts").isin(new_days))
            .select("conv_id")
            .distinct()
            .persist()
        )
        transcripts = transcripts.join(convs, "conv_id", "left_semi")
        boundary_days = [
            str(r[0])
            for r in transcripts.filter(
                F.col("ts") <= F.lit(since_watermark).cast("timestamp")
            )
            .groupBy("conv_id")
            .agg(F.max("ts").alias("last_ts"))
            .select(F.to_date("last_ts").alias("d"))
            .distinct()
            .collect()
            if str(r[0]) not in set(new_days)
        ]

    # _tagged and _dims each feed one write, so neither is persisted.
    tiers = build_tiers(transcripts, params, persist=False)
    try:
        results = {
            t: "skipped"  # already committed for this input
            for t in (*TIER_TABLES, *DIM_TABLES)
            if catalog.input_watermark(t) == watermark
        }
        tier_days = None if full else new_days + boundary_days
        pending, wanted = _pending(catalog, TIER_TABLES, tier_days, results)
        out = with_bucket_date(tiers["_tagged"]).filter(wanted)
        for grain, table in pending.items():
            merge = _unexpired(catalog, table, boundary_days)
            if merge:
                # boundary partitions also hold UNAFFECTED conversations'
                # buckets: keep those, replace the affected ones. Only the
                # boundary days are read, so planning the merge costs the
                # same whatever the table's history.
                keep = (
                    catalog.read_days(table, merge)
                    .join(convs, "conv_id", "left_anti")
                    .withColumn("_grain", F.lit(grain).cast("tinyint"))
                )
                out = out.unionByName(keep.select(*out.columns))
        written = catalog.overwrite_grouped(pending, out, watermark) if pending else {}

        # flag-independent: no boundary days; _grain is the DIM_TABLES index
        pending_dims, wanted = _pending(catalog, DIM_TABLES, new_days, results)
        if pending_dims:
            dims = with_bucket_date(tiers["_dims"]).filter(wanted)
            written.update(catalog.overwrite_grouped(pending_dims, dims, watermark, DIM_COLUMNS))
        if full and (pending or pending_dims) and not written:
            return {}  # an empty input, or one whose rows all fall before the cutoffs
        for table in (*pending.values(), *pending_dims.values()):
            results[table] = written.get(table, "skipped")
        return results
    finally:
        tiers["_sorted"].unpersist()
        if convs is not None:
            convs.unpersist()


def _pending(catalog: ParquetManifestCatalog, tables: tuple, days, results: dict):
    """``({_grain: table}, row filter)`` for the tables of ``tables`` (tagged
    ``_grain`` = their index) that this run writes: each one not already in
    ``results``, whose rows are ``_scope(days)``. A table left with no day
    to write is marked skipped in ``results``."""
    pending, wanted = {}, F.lit(False)
    for grain, table in enumerate(tables):
        if table in results:
            continue
        scope = _scope(catalog, table, days)
        if scope is None:
            results[table] = "skipped"  # everything new is already expired
            continue
        pending[grain] = table
        wanted = wanted | ((F.col("_grain") == grain) & scope)
    return pending, wanted


def apply_retention(catalog: ParquetManifestCatalog, cutoffs: dict[str, str]) -> dict:
    """Retention expiry per tier, e.g. {'tier_1m': '2024-01-15'} keeps only
    newer partitions of the finest tier while coarser tiers retain longer."""
    return {
        table: catalog.delete_where_older(table, cutoff)
        for table, cutoff in cutoffs.items()
    }
