"""Transcripts source.

Two readers:

- :func:`read_transcripts` — parquet/Iceberg table already in the input_hint
  shape (conv_id, turn_idx, role, text, tool, ts).
- :func:`transcripts_from_events` — a *deterministic, SQL-expressible*
  mapping of the driver's ``events`` testdata table into the transcripts
  shape, so every transcript-pipeline query has a DuckDB oracle. The mapping
  (also in ``TRANSCRIPTS_FROM_EVENTS_SQL``) must stay in lockstep with the
  Spark expression.

Derived per-turn metrics (:func:`with_turn_metrics`): ``turn_gap_s`` =
seconds since previous turn in the conversation, ``text_len`` = length(text),
both FloatType (f32) — the series the window QC operators run on (the image
of the reference's SeriesCache values, util/mod.rs:46-49). The tier
pipeline computes the same gap in its stage-1 stencil instead
(``qc_series.with_gap_and_dip_parallel``).
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


def with_turn_metrics(df: DataFrame) -> DataFrame:
    """Add turn_gap_s (f32 seconds since previous turn) and text_len (f32).

    One window over (conv_id | turn_idx): a shuffle by conv_id that later
    windows partitioned by conv_id can reuse. The tier pipeline does not
    use it (its stage 1 range-sorts by (conv_id, day)); it is the batch
    window form of the gap, and the streaming turn gaps are tested
    against it.

    text_len is computed BELOW the window (scan-side projection): consumers
    that drop ``text`` afterwards (the tier pipeline) then shuffle a 4-byte
    float instead of the document string — Catalyst prunes ``text`` from the
    exchange. Inputs that already carry text_len / turn_gap_s (a narrow
    pre-projection) are passed through untouched.
    """
    if "text_len" not in df.columns:
        df = df.withColumn(
            "text_len", F.length(F.coalesce(F.col("text"), F.lit(""))).cast("float")
        )
    if "turn_gap_s" not in df.columns:
        w = Window.partitionBy("conv_id").orderBy("turn_idx")
        # normalize TIMESTAMP_NTZ (parquet naive) and TIMESTAMP alike; session
        # tz is UTC so the instant arithmetic is identical either way
        t = F.col("ts").cast("timestamp")
        gap = (F.unix_micros(t) - F.unix_micros(F.lag(t).over(w))).cast("double") / 1e6
        df = df.withColumn("turn_gap_s", gap.cast("float"))
    return df
