"""Transcripts source.

Two readers:

- :func:`read_transcripts` — parquet/Iceberg table already in the input_hint
  shape (conv_id, turn_idx, role, text, tool, ts).
- :func:`transcripts_from_events` — a *deterministic, SQL-expressible*
  mapping of the driver's ``events`` testdata table into the transcripts
  shape, so every transcript-pipeline query has a DuckDB oracle. The mapping
  (also in ``TRANSCRIPTS_FROM_EVENTS_SQL``) must stay in lockstep with the
  Spark expression.

The per-turn series the tier pipeline checks (``turn_gap_s``, seconds since
the previous turn in the conversation) is computed by its stage-1 stencil
(``qc_series.with_gap_and_dip_parallel``), not here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# role/tool mapping from the events table, deterministic + total.
_ROLE_CASE = """CASE event_type
    WHEN 'view' THEN 'user'
    WHEN 'click' THEN 'user'
    WHEN 'purchase' THEN 'assistant'
    WHEN 'signup' THEN 'system'
    ELSE 'tool' END"""
_TOOL_CASE = """CASE event_type
    WHEN 'error' THEN 'bash'
    WHEN 'purchase' THEN 'search'
    ELSE NULL END"""

# ANSI SQL (DuckDB-runnable) equivalent of transcripts_from_events, for
# oracle queries. `events` is a pre-registered view.
TRANSCRIPTS_FROM_EVENTS_SQL = f"""
SELECT
  'c' || CAST(user_id AS VARCHAR)                                   AS conv_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
       AS INTEGER)                                                  AS turn_idx,
  {_ROLE_CASE}                                                      AS role,
  props                                                             AS text,
  {_TOOL_CASE}                                                      AS tool,
  ts                                                                AS ts,
  value                                                             AS metric
FROM events
"""


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) -> transcripts.

    Single window over (user_id | ts, event_id): one shuffle, deterministic
    turn ordering; carries events.value through as ``metric`` (an extra f64
    measurement column used by value-based QC queries).
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # Partition the ordering window by conv_id itself, not user_id: the two
    # are bijective ('c'||user_id) but Catalyst cannot prove it, and every
    # downstream per-conversation window partitions by conv_id — keying this
    # window the same way lets them all reuse ONE exchange (the events path
    # previously paid a second full shuffle here). role/tool are derived
    # POST-shuffle from event_type, so only the 5-char event_type crosses
    # the wire, not two derived strings.
    pre = ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        "ts", "event_id", "event_type", "props", "value",
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    return pre.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.expr(_ROLE_CASE).alias("role"),
        F.col("props").alias("text"),
        F.expr(_TOOL_CASE).alias("tool"),
        F.col("ts"),
        F.col("value").alias("metric"),
    )
