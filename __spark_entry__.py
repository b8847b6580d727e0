"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship QC-filtered rollup pipeline on sf0.001.
``queries()`` exposes every SQL-expressible operator from SURVEY.md §2 as a
(spark, sf_dir) callable; ``oracle_sql()`` gives the DuckDB-equivalent SQL
over the same parquet tables. Engine-native grouped-kernel operators have
no faithful ANSI-SQL expression, so their driver entries fold the engine
result into SQL-checkable columns instead: q21/q22 emit the spatial
kernels' keyspace plus a flag-domain boolean, q24 negates n_points on a
codec roundtrip mismatch, q34 folds the ANN recall-vs-exact bound into a
boolean, q32/q33 report recovery / band-consistency booleans over the
exact-Jaccard pair keyspace, q35 folds an encode->decode roundtrip against
generation-time ground truth into decode_ok — each with a DuckDB oracle
asserting the invariant, while the pytest suite owns bit-exactness
(SURVEY.md §5). Every queries() entry now carries an oracle.

Cross-engine determinism rules used throughout:
- timestamps exported as epoch BIGINT (UTC session <-> DuckDB naive);
- float aggregates computed in DOUBLE on both sides and ROUND(x, 6)
  (the engine's f32 bit-exact path is pytest-verified; the SQL harness
  checks relational semantics, not f32 representation);
- every computed column aliased identically on both sides;
- top-k queries ordered with a full deterministic tiebreak.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# shared SQL fragments (Spark and DuckDB dialects)
# ---------------------------------------------------------------------------

# events -> transcripts mapping (SURVEY §1.5): deterministic, SQL-expressible
# in both engines so every transcript query has an oracle.
# Round-6 plan alignment: conv_id is materialized as an ATTRIBUTE in an
# inner projection and the turn-ordering window partitions by that
# attribute (not by user_id): user_id <-> conv_id is bijective but Catalyst
# cannot prove it, so partitioning the window by user_id forced every
# downstream conv_id window/aggregate to add a SECOND full exchange+sort.
# With the window keyed on conv_id itself, downstream operators reuse the
# one exchange (verified: q03/q13/q15/q16 drop from 2 exchanges to 1).
# Same rows, same oracle.
_T_SPARK = """
SELECT
  conv_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, event_id) - 1
       AS INT)                                                      AS turn_idx,
  CASE event_type WHEN 'view' THEN 'user' WHEN 'click' THEN 'user'
       WHEN 'purchase' THEN 'assistant' WHEN 'signup' THEN 'system'
       ELSE 'tool' END                                              AS role,
  props                                                             AS text,
  CASE event_type WHEN 'error' THEN 'bash' WHEN 'purchase' THEN 'search'
       ELSE NULL END                                                AS tool,
  ts,
  value                                                             AS metric
FROM (
  SELECT concat('c', CAST(user_id AS STRING)) AS conv_id,
         CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, props, value
  FROM events
)
"""

_T_DUCK = """
SELECT
  'c' || CAST(user_id AS VARCHAR)                                   AS conv_id,
  CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
       AS INTEGER)                                                  AS turn_idx,
  CASE event_type WHEN 'view' THEN 'user' WHEN 'click' THEN 'user'
       WHEN 'purchase' THEN 'assistant' WHEN 'signup' THEN 'system'
       ELSE 'tool' END                                              AS role,
  props                                                             AS text,
  CASE event_type WHEN 'error' THEN 'bash' WHEN 'purchase' THEN 'search'
       ELSE NULL END                                                AS tool,
  ts                                                                AS ts,
  value                                                             AS metric
FROM events
"""

# per-turn gap in seconds, DOUBLE (µs integer diff / 1e6 on both sides)
_G_SPARK = f"""
SELECT *,
  (unix_micros(ts) - LAG(unix_micros(ts)) OVER w) / 1e6             AS turn_gap_s,
  (unix_micros(ts) - LAG(unix_micros(ts)) OVER w)                   AS turn_gap_us,
  CAST(length(coalesce(text, '')) AS BIGINT)                        AS text_len
FROM ({_T_SPARK})
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
"""

_G_DUCK = f"""
SELECT *,
  (epoch_us(ts) - LAG(epoch_us(ts)) OVER w) / 1e6                   AS turn_gap_s,
  (epoch_us(ts) - LAG(epoch_us(ts)) OVER w)                         AS turn_gap_us,
  CAST(length(coalesce(text, '')) AS BIGINT)                        AS text_len
FROM ({_T_DUCK})
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
"""


def _flag_case(g="turn_gap_s", prev="prev_gap", high=120.0, max_=3600.0):
    """step_check CASE, Warn-before-Fail reference bug preserved
    (step_check.rs:35-41). Same text works in both dialects."""
    return f"""CASE
      WHEN {prev} IS NULL OR {g} IS NULL THEN 5
      WHEN abs({prev} - {g}) > {high} THEN 2
      WHEN abs({prev} - {g}) > {max_} THEN 1
      ELSE 0 END"""


def _dip_case(d0="d0", d1="turn_gap_s", d2="d2", high=60.0, max_=1800.0):
    """dip_check CASE (dip_check.rs:38-59), Fail-before-Warn (fixed order)."""
    return f"""CASE
      WHEN {d0} IS NULL OR {d1} IS NULL OR {d2} IS NULL THEN 5
      WHEN (({d2} < {d1} AND {d0} < {d1}) OR ({d2} > {d1} AND {d0} > {d1}))
           AND abs(abs({d2} - {d1}) - abs({d1} - {d0}))
               < 0.35 * abs(abs({d2} - {d1}) + abs({d1} - {d0}))
      THEN CASE WHEN abs(abs({d2} - {d1}) + abs({d1} - {d0})) > {max_} THEN 1
                WHEN abs(abs({d2} - {d1}) + abs({d1} - {d0})) > {high} THEN 2
                ELSE 0 END
      ELSE 0 END"""


_STEP_SPARK = f"""
SELECT conv_id, turn_idx,
       {_flag_case(prev="(LAG(turn_gap_s) OVER w)")} AS flag_step
FROM ({_G_SPARK})
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
"""
_STEP_DUCK = _STEP_SPARK.replace(_G_SPARK, _G_DUCK)

_DIP_SPARK = f"""
SELECT conv_id, turn_idx,
       {_dip_case(d0="(LAG(turn_gap_s) OVER w)", d2="(LEAD(turn_gap_s) OVER w)")} AS flag_dip
FROM ({_G_SPARK})
WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
"""
_DIP_DUCK = _DIP_SPARK.replace(_G_SPARK, _G_DUCK)


# Temp-view registration is metadata work (7 parquet footer reads on the
# driver, ~0.2s) that every SQL query call repeated. Cache the last
# registered sf_dir per live session and skip re-registration when it is
# unchanged — re-registering on a dir switch keeps multi-SF harnesses
# correct, and the WeakKeyDictionary drops entries with their session (no
# stale-id reuse). Results are untouched: this caches catalog state, never
# data or query output. Invalidation assumes the inputs are immutable:
# parquet files rewritten in place under the same sf_dir are served stale
# (the file listing and schema resolved at registration) for the life of
# the session; use a new session or another sf_dir to pick them up.
import weakref as _weakref

_VIEWS_FOR: "_weakref.WeakKeyDictionary[SparkSession, str]" = (
    _weakref.WeakKeyDictionary()
)


def _register_views(spark: SparkSession, sf_dir: str) -> None:
    if _VIEWS_FOR.get(spark) == sf_dir:
        return
    for t in ("events", "lineitem", "orders", "customer", "nation",
              "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)
    _VIEWS_FOR[spark] = sf_dir


def _sql_query(spark_sql: str):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        _register_views(spark, sf_dir)
        return spark.sql(spark_sql)

    return run


# ---------------------------------------------------------------------------
# query registry: {name: (spark_sql, duckdb_sql)} for the SQL-expressible set
# ---------------------------------------------------------------------------

_SQL: dict[str, tuple[str, str]] = {}


def _reg(name: str, spark_sql: str, duck_sql: str):
    # dialect quirk: Spark SQL string literals are escape-processed (the
    # regex \s must appear as \\s in the SQL text) while DuckDB literals
    # are standard-SQL raw. Queries here are written with single-backslash
    # regexes (DuckDB-ready); double them for the Spark parser. No query
    # uses a backslash for anything but regexes.
    _SQL[name] = (spark_sql.replace(chr(92), chr(92) * 2), duck_sql.replace(chr(92) * 2, chr(92)))


# 1. source scan + stable turn ordering + per-turn text passthrough
#    (input_hint invariant: text equality under (conv_id, turn_idx) order)
_reg(
    "q01_transcripts_view",
    f"SELECT conv_id, turn_idx, role, text, tool, unix_micros(ts) AS ts_us,"
    f" round(metric, 6) AS metric FROM ({_T_SPARK})",
    f"SELECT conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts_us,"
    f" round(metric, 6) AS metric FROM ({_T_DUCK})",
)

# 2. derived turn metrics (gap-to-predecessor, text length)
_reg(
    "q02_turn_metrics",
    f"SELECT conv_id, turn_idx, round(turn_gap_s, 6) AS turn_gap_s, text_len"
    f" FROM ({_G_SPARK})",
    f"SELECT conv_id, turn_idx, round(turn_gap_s, 6) AS turn_gap_s, text_len"
    f" FROM ({_G_DUCK})",
)

# 3. step_check flags (window CASE; reference Warn-before-Fail bug)
_reg("q03_step_flags", _STEP_SPARK, _STEP_DUCK)

# 4. dip_check flags (lag+lead window CASE)
_reg("q04_dip_flags", _DIP_SPARK, _DIP_DUCK)

# 5. flatline runs: run-id via cumulative change-sum, flag runs >= 3
_FLAT = """
SELECT conv_id, turn_idx,
       CASE WHEN metric IS NULL THEN 5
            WHEN cnt >= 3 THEN 1 ELSE 0 END AS flag_flatline
FROM (
  SELECT conv_id, turn_idx, metric,
         COUNT(*) OVER (PARTITION BY conv_id, run_id) AS cnt
  FROM (
    SELECT conv_id, turn_idx, metric,
           SUM(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx
                          ROWS UNBOUNDED PRECEDING) AS run_id
    FROM (
      SELECT conv_id, turn_idx, metric,
             CASE WHEN metric IS NULL OR LAG(metric) OVER w IS NULL
                       OR metric <> LAG(metric) OVER w THEN 1 ELSE 0 END AS chg
      FROM ({T})
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
    )
  )
)
"""
_reg("q05_flatline_flags", _FLAT.format(T=_T_SPARK), _FLAT.format(T=_T_DUCK))

# 6. spine gap-fill (SeriesCache materialization, hourly grain) — per-conv
#    slot/gap/observation counts over a sequence()-generated dense spine.
#    Spark side (round 6): the dense spine is never materialized — the
#    spine is an arithmetic progression, so n_slots is closed-form from
#    (t0, t1), n_gap_slots = n_slots minus the DISTINCT observed slots, and
#    n_obs = count(ts) (ts bounds the spine, so every non-null-ts row joins
#    a slot). ONE scan + ONE aggregate replace the 2 scans + exploded-spine
#    LEFT JOIN; the DuckDB oracle keeps the literal spine construction and
#    the driver hash-checks equivalence. A conversation with no non-NULL ts
#    has an empty spine, hence no row (the HAVING).
_SPINE_SPARK = """
SELECT conv_id,
       CAST((unix_seconds(date_trunc('hour', max(ts)))
             - unix_seconds(date_trunc('hour', min(ts)))) / 3600 + 1 AS BIGINT)
         AS n_slots,
       CAST((unix_seconds(date_trunc('hour', max(ts)))
             - unix_seconds(date_trunc('hour', min(ts)))) / 3600 + 1
            - count(DISTINCT date_trunc('hour', ts)) AS BIGINT) AS n_gap_slots,
       count(ts) AS n_obs
FROM (SELECT conv_id, ts
      FROM (SELECT concat('c', CAST(user_id AS STRING)) AS conv_id,
                   CAST(ts AS TIMESTAMP) AS ts
            FROM events)
      DISTRIBUTE BY conv_id)
GROUP BY conv_id
HAVING count(ts) > 0
"""
_SPINE_DUCK = f"""
WITH b AS (
  SELECT conv_id, date_trunc('hour', min(ts)) AS t0, date_trunc('hour', max(ts)) AS t1
  FROM ({_T_DUCK}) GROUP BY conv_id
),
spine AS (
  SELECT conv_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS slot FROM b
),
obs AS (
  SELECT conv_id, date_trunc('hour', ts) AS slot, count(*) AS n
  FROM ({_T_DUCK}) GROUP BY 1, 2
)
SELECT s.conv_id,
       count(*)                            AS n_slots,
       CAST(sum(CASE WHEN o.n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gap_slots,
       CAST(coalesce(sum(o.n), 0) AS BIGINT) AS n_obs
FROM spine s LEFT JOIN obs o ON s.conv_id = o.conv_id AND s.slot = o.slot
GROUP BY s.conv_id
"""
_reg("q06_spine_gapfill_hourly", _SPINE_SPARK, _SPINE_DUCK)

# 7. LOCF over the hourly spine (slot value = last obs in slot by (ts, turn),
#    carried forward), per-conv checksum
_LOCF = """
WITH b AS (
  SELECT conv_id, date_trunc('hour', min(ts)) AS t0, date_trunc('hour', max(ts)) AS t1
  FROM ({T}) GROUP BY conv_id
),
spine AS (
  SELECT conv_id, {SEQ} AS slot FROM b
),
obs AS (
  SELECT conv_id, slot, metric FROM (
    SELECT conv_id, date_trunc('hour', ts) AS slot, metric,
           ROW_NUMBER() OVER (PARTITION BY conv_id, date_trunc('hour', ts)
                              ORDER BY ts DESC, turn_idx DESC) AS rn
    FROM ({T})
  ) WHERE rn = 1
),
filled AS (
  SELECT s.conv_id, s.slot,
         {LASTV} OVER (
           PARTITION BY s.conv_id ORDER BY s.slot
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
  FROM spine s LEFT JOIN obs o ON s.conv_id = o.conv_id AND s.slot = o.slot
)
SELECT conv_id, count(*) AS n_slots,
       CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       CAST(sum(CAST(round(coalesce(v, 0) * 100) AS BIGINT)) AS BIGINT) AS locf_checksum_x100
FROM filled GROUP BY conv_id
"""
# Spark side (round 6): LOCF over a dense hourly spine is a step function
# whose value only changes at observed slots, so the per-slot sum collapses
# to (change-point value) x (run length in hours). The dense spine and its
# 10x-row LEFT JOIN + LAST_VALUE window disappear; everything after the
# per-slot dedup (max_by on (ts, event_id) — the rn=1 row) happens on the
# change-point frame. DISTRIBUTE BY conv_id up front makes the dedup
# aggregate, the LEAD window, b, and the final join all colocate on ONE
# exchange. n_filled = slots from the first non-null change point to t1
# (the spine starts at an observed slot, so LOCF is non-null from there on).
# The DuckDB oracle keeps the literal spine + window construction.
_LOCF_SPARK = """
WITH w AS (
  SELECT conv_id, slot, metric,
         MIN(slot) OVER (PARTITION BY conv_id) AS t0,
         MAX(slot) OVER (PARTITION BY conv_id) AS t1,
         CASE WHEN metric IS NOT NULL THEN
           LEAD(slot) OVER (PARTITION BY conv_id, (metric IS NOT NULL)
                            ORDER BY slot)
         END AS next_cp_slot
  FROM (
    SELECT conv_id, slot, max_by(metric, struct(ts, event_id)) AS metric
    FROM (SELECT conv_id, date_trunc('hour', ts) AS slot, ts, event_id, metric
          FROM (SELECT concat('c', CAST(user_id AS STRING)) AS conv_id,
                       CAST(ts AS TIMESTAMP) AS ts, event_id, value AS metric
                FROM events)
          DISTRIBUTE BY conv_id)
    GROUP BY conv_id, slot
  )
)
SELECT conv_id,
       CAST((unix_seconds(max(t1)) - unix_seconds(min(t0))) / 3600 + 1 AS BIGINT)
         AS n_slots,
       CAST(CASE WHEN min(CASE WHEN metric IS NOT NULL THEN slot END) IS NULL THEN 0
                 ELSE (unix_seconds(max(t1))
                       - unix_seconds(min(CASE WHEN metric IS NOT NULL THEN slot END)))
                      / 3600 + 1 END AS BIGINT) AS n_filled,
       CAST(coalesce(sum(CASE WHEN metric IS NOT NULL THEN
               CAST(round(metric * 100) AS BIGINT)
               * CAST((unix_seconds(coalesce(next_cp_slot, t1 + interval 1 hour))
                       - unix_seconds(slot)) / 3600 AS BIGINT) END), 0) AS BIGINT)
         AS locf_checksum_x100
FROM w
GROUP BY conv_id
"""
_reg(
    "q07_locf_hourly",
    _LOCF_SPARK,
    _LOCF.format(T=_T_DUCK, SEQ="unnest(generate_series(t0, t1, INTERVAL 1 HOUR))",
                 LASTV="LAST_VALUE(o.metric IGNORE NULLS)"),
)

# 8. tumbling 1m rollup (count / sum / mean / exact interpolated p95)
_ROLL1M = """
SELECT conv_id, {EPOCH} AS bucket_s,
       count(*) AS n_turns,
       CAST(sum(CAST(round(metric * 100) AS BIGINT)) AS BIGINT) AS sum_metric_x100,
       round({P95}, 6) AS p95_metric
FROM ({T})
GROUP BY conv_id, bucket_s
"""
# Spark side (round 6): (conv_id, minute) has ~1 row per group, so the
# default partial ObjectHashAggregate builds and serializes ~n_rows exact-
# percentile buffers across the exchange for zero reduction. DISTRIBUTE BY
# conv_id instead moves the raw rows once; partial+final then colocate in a
# single post-shuffle stage with no buffer serialization.
_ROLL1M_SPARK = """
SELECT conv_id, unix_seconds(date_trunc('minute', ts)) AS bucket_s,
       count(*) AS n_turns,
       CAST(sum(CAST(round(metric * 100) AS BIGINT)) AS BIGINT) AS sum_metric_x100,
       round(percentile(metric, 0.95D), 6) AS p95_metric
FROM (SELECT conv_id, ts, metric
      FROM (SELECT concat('c', CAST(user_id AS STRING)) AS conv_id,
                   CAST(ts AS TIMESTAMP) AS ts, value AS metric
            FROM events)
      DISTRIBUTE BY conv_id)
GROUP BY conv_id, bucket_s
"""
_reg(
    "q08_rollup_1m",
    _ROLL1M_SPARK,
    _ROLL1M.format(T=_T_DUCK, EPOCH="CAST(epoch(date_trunc('minute', ts)) AS BIGINT)",
                   P95="quantile_cont(metric, 0.95)"),
)

# 9. 1h tier refreshed FROM 1m partials (partial+final decomposition) vs a
#    direct 1h aggregate oracle — the continuous-aggregate equivalence
_reg(
    "q09_rollup_1h_from_1m_partials",
    # Spark side (round 6): DISTRIBUTE BY conv_id colocates BOTH the 1m
    # partial aggregate and the 1h final aggregate on one exchange (the
    # partial+final decomposition itself — the point of this query — is
    # unchanged).
    """
    WITH t1m AS (
      SELECT conv_id, date_trunc('minute', ts) AS b, count(*) AS n,
             sum(CAST(round(metric * 100) AS BIGINT)) AS s
      FROM (SELECT conv_id, ts, metric
            FROM (SELECT concat('c', CAST(user_id AS STRING)) AS conv_id,
                         CAST(ts AS TIMESTAMP) AS ts, value AS metric
                  FROM events)
            DISTRIBUTE BY conv_id)
      GROUP BY 1, 2
    )
    SELECT conv_id, unix_seconds(date_trunc('hour', b)) AS bucket_s,
           sum(n) AS n_turns, sum(s) AS sum_metric_x100
    FROM t1m GROUP BY 1, 2
    """,
    f"""
    SELECT conv_id, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_s,
           count(*) AS n_turns,
           CAST(sum(CAST(round(metric * 100) AS BIGINT)) AS BIGINT) AS sum_metric_x100
    FROM ({_T_DUCK}) GROUP BY 1, 2
    """,
)

# 10. 1d tier from 1h partials vs direct daily oracle
_reg(
    "q10_rollup_1d_from_1h_partials",
    f"""
    WITH t1h AS (
      SELECT conv_id, date_trunc('hour', ts) AS b, count(*) AS n,
             sum(CAST(round(metric * 100) AS BIGINT)) AS s
      FROM ({_T_SPARK}) GROUP BY 1, 2
    )
    SELECT conv_id, unix_seconds(date_trunc('day', b)) AS bucket_s,
           sum(n) AS n_turns, sum(s) AS sum_metric_x100
    FROM t1h GROUP BY 1, 2
    """,
    f"""
    SELECT conv_id, CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS bucket_s,
           count(*) AS n_turns,
           CAST(sum(CAST(round(metric * 100) AS BIGINT)) AS BIGINT) AS sum_metric_x100
    FROM ({_T_DUCK}) GROUP BY 1, 2
    """,
)

# 11/12. dimension rollups (per-role / per-tool)
_DIMROLL = """
SELECT {EPOCH} AS bucket_s, {DIM} AS dim,
       count(*) AS n_turns,
       CAST(sum(CAST(length(coalesce(text, '')) AS BIGINT)) AS BIGINT) AS sum_text_len
FROM ({T})
GROUP BY bucket_s, dim
"""
_reg(
    "q11_rollup_by_role_1h",
    _DIMROLL.format(T=_T_SPARK, EPOCH="unix_seconds(date_trunc('hour', ts))", DIM="role"),
    _DIMROLL.format(T=_T_DUCK, EPOCH="CAST(epoch(date_trunc('hour', ts)) AS BIGINT)", DIM="role"),
)
_reg(
    "q12_rollup_by_tool_1h",
    _DIMROLL.format(T=_T_SPARK, EPOCH="unix_seconds(date_trunc('hour', ts))",
                    DIM="coalesce(tool, 'none')"),
    _DIMROLL.format(T=_T_DUCK, EPOCH="CAST(epoch(date_trunc('hour', ts)) AS BIGINT)",
                    DIM="coalesce(tool, 'none')"),
)

# 13. QC-before-rollup: dip-FAIL turns excluded from measures, counted
_QCROLL = """
WITH flagged AS (
  SELECT conv_id, turn_idx, turn_gap_s, turn_gap_us, ts,
         {DIP} AS flag_dip
  FROM ({G})
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
)
SELECT conv_id, {EPOCH} AS bucket_s,
       count(*) AS n_turns,
       CAST(sum(CASE WHEN flag_dip = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_qc_fail,
       CAST(floor(avg(CASE WHEN flag_dip <> 1 THEN turn_gap_us END)) AS BIGINT)
         AS mean_gap_ok_us
FROM flagged
GROUP BY conv_id, bucket_s
"""
_reg(
    "q13_qc_filtered_rollup_1h",
    _QCROLL.format(G=_G_SPARK, EPOCH="unix_seconds(date_trunc('hour', ts))",
                   DIP=_dip_case(d0="(LAG(turn_gap_s) OVER w)", d2="(LEAD(turn_gap_s) OVER w)")),
    _QCROLL.format(G=_G_DUCK, EPOCH="CAST(epoch(date_trunc('hour', ts)) AS BIGINT)",
                   DIP=_dip_case(d0="(LAG(turn_gap_s) OVER w)", d2="(LEAD(turn_gap_s) OVER w)")),
)

# 14. flag distribution (step x dip contingency)
_FLAGDIST = """
WITH s AS ({STEP}), d AS ({DIP})
SELECT s.flag_step, d.flag_dip, count(*) AS n
FROM s JOIN d ON s.conv_id = d.conv_id AND s.turn_idx = d.turn_idx
GROUP BY s.flag_step, d.flag_dip
"""
_reg(
    "q14_flag_distribution",
    _FLAGDIST.format(STEP=_STEP_SPARK, DIP=_DIP_SPARK),
    _FLAGDIST.format(STEP=_STEP_DUCK, DIP=_DIP_DUCK),
)

# 15. top-k largest gaps (deterministic tiebreak)
_TOPK = """
SELECT conv_id, turn_idx, round(turn_gap_s, 6) AS gap_s
FROM ({G})
WHERE turn_gap_s IS NOT NULL
ORDER BY round(turn_gap_s, 6) DESC, conv_id, turn_idx
LIMIT 100
"""
_reg("q15_top_gaps", _TOPK.format(G=_G_SPARK), _TOPK.format(G=_G_DUCK))

# 16. sessionization: a gap > 1800s opens a new session (cumsum window)
_SESS = """
SELECT conv_id,
       count(DISTINCT session_id) AS n_sessions,
       CAST(max(session_id) + 1 AS BIGINT) AS last_session_plus1
FROM (
  SELECT conv_id,
         SUM(CASE WHEN turn_gap_s IS NULL OR turn_gap_s > 1800 THEN 1 ELSE 0 END)
           OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) - 1
           AS session_id
  FROM ({G})
)
GROUP BY conv_id
"""
_reg("q16_sessionize", _SESS.format(G=_G_SPARK), _SESS.format(G=_G_DUCK))

# 17. retention predicate: per-day survivor counts after a cutoff
_RET = """
SELECT {EPOCH} AS day_s, count(*) AS n
FROM ({T})
WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
GROUP BY day_s
"""
_reg(
    "q17_retention_filter",
    _RET.format(T=_T_SPARK, EPOCH="unix_seconds(date_trunc('day', ts))"),
    _RET.format(T=_T_DUCK, EPOCH="CAST(epoch(date_trunc('day', ts)) AS BIGINT)"),
)

# 18. enrichment join: conversations x customer dimension (broadcast join)
_JOIN_SPARK = f"""
SELECT n.n_name AS nation, count(*) AS n_turns,
       sum(CAST(round(t.metric * 100) AS BIGINT)) AS sum_metric_x100
FROM ({_T_SPARK}) t
JOIN customer c ON CAST(substr(t.conv_id, 2) AS BIGINT) = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""
_JOIN_DUCK = f"""
SELECT n.n_name AS nation, count(*) AS n_turns,
       CAST(sum(CAST(round(t.metric * 100) AS BIGINT)) AS BIGINT) AS sum_metric_x100
FROM ({_T_DUCK}) t
JOIN customer c ON CAST(substr(t.conv_id, 2) AS BIGINT) = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""
_reg("q18_enrich_join_nation", _JOIN_SPARK, _JOIN_DUCK)

# 19. salted two-stage aggregation == plain groupBy (skew-handling proof)
_reg(
    "q19_salted_agg_equivalence",
    f"""
    WITH partial AS (
      SELECT conv_id, pmod(turn_idx, 16) AS salt, count(*) AS c,
             sum(CAST(round(metric * 100) AS BIGINT)) AS s
      FROM ({_T_SPARK}) GROUP BY conv_id, salt
    )
    SELECT conv_id, sum(c) AS n_turns, sum(s) AS sum_metric_x100
    FROM partial GROUP BY conv_id
    """,
    f"SELECT conv_id, count(*) AS n_turns,"
    f" CAST(sum(CAST(round(metric * 100) AS BIGINT)) AS BIGINT) AS sum_metric_x100"
    f" FROM ({_T_DUCK}) GROUP BY conv_id",
)

# 20. classic wide aggregation over lineitem (generic agg/sort coverage)
_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_x100,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_x100,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_x10k,
       CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sum_disc_x100,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""
_reg("q20_lineitem_pricing_summary", _Q1, _Q1)


# 36. grouping sets over (role, tool): multi-level aggregates in one pass
_GSETS = """
SELECT coalesce(role, '(all)') AS role_g, coalesce(tool, '(all)') AS tool_g,
       count(*) AS n_turns
FROM ({T})
GROUP BY GROUPING SETS ((role, tool), (role), (tool), ())
"""
_reg("q36_grouping_sets", _GSETS.format(T=_T_SPARK), _GSETS.format(T=_T_DUCK))

# 37. pivot-style rollup: per-conversation role mix as conditional aggregates
_PIVOT = """
SELECT conv_id,
       CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
       CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
       CAST(sum(CASE WHEN role = 'system' THEN 1 ELSE 0 END) AS BIGINT) AS n_system,
       CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool
FROM ({T})
GROUP BY conv_id
"""
_reg("q37_role_pivot", _PIVOT.format(T=_T_SPARK), _PIVOT.format(T=_T_DUCK))

# 38. as-of join: each purchase turn gets the user's most recent prior error
#     (Spark: union-LOCF single-shuffle plan; DuckDB: native ASOF JOIN)
_ASOF_SPARK = f"""
WITH t AS ({_T_SPARK}),
tagged AS (
  SELECT conv_id, ts, turn_idx, role,
         CASE WHEN tool = 'bash' THEN 0 ELSE 1 END AS side,
         CASE WHEN tool = 'bash' THEN unix_micros(ts) END AS err_us
  FROM t WHERE role = 'assistant' OR tool = 'bash'
),
filled AS (
  SELECT *, last(err_us, true) OVER (
    PARTITION BY conv_id ORDER BY ts, side
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_err_us
  FROM tagged
)
SELECT conv_id, turn_idx, last_err_us
FROM filled WHERE side = 1
"""
_ASOF_DUCK = f"""
WITH t AS ({_T_DUCK}),
purchases AS (SELECT conv_id, ts, turn_idx FROM t WHERE role = 'assistant'),
errors AS (SELECT conv_id, ts, epoch_us(ts) AS err_us FROM t WHERE tool = 'bash')
SELECT p.conv_id, p.turn_idx, e.err_us AS last_err_us
FROM purchases p ASOF LEFT JOIN errors e
  ON p.conv_id = e.conv_id AND p.ts >= e.ts
"""
_reg("q38_asof_join", _ASOF_SPARK, _ASOF_DUCK)


# ---------------------------------------------------------------------------
# dedup / text-analysis / similarity over documents + embeddings
# (training-data-pipeline operators; SQL oracles where ANSI-expressible)
# ---------------------------------------------------------------------------

_NORM_TXT_DUCK = "trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))"

# 25. exact dedup: keep-first by normalized-text fingerprint
_reg(
    "q25_dedup_exact",
    "SELECT md5(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ')))"
    " AS fingerprint, min(doc_id) AS keep_doc_id, count(*) AS n_docs"
    " FROM documents GROUP BY fingerprint",
    f"SELECT md5({_NORM_TXT_DUCK}) AS fingerprint, min(doc_id) AS keep_doc_id,"
    f" count(*) AS n_docs FROM documents GROUP BY fingerprint",
)

# 26. n-gram (3-shingle) Jaccard near-dup pairs, integer-exact counts
_SHJ_SPARK = """
WITH t AS (
  SELECT doc_id,
         filter(split(trim(lower(coalesce(text, ''))), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, concat_ws(' ', slice(toks, i, 3)) AS shingle
  FROM t LATERAL VIEW explode(sequence(1, size(toks) - 2)) AS i
  WHERE size(toks) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.doc_a, c.doc_b, c.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
FROM common c
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE c.n_common >= 0.8 * (sa.n_sh + sb.n_sh - c.n_common)
"""
_SHJ_DUCK = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i : i + 2], ' ') AS shingle
  FROM t, UNNEST(generate_series(1, len(toks) - 2)) AS g(i)
  WHERE len(toks) >= 3
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.doc_a, c.doc_b, c.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b
FROM common c
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
WHERE c.n_common >= 0.8 * (sa.n_sh + sb.n_sh - c.n_common)
"""
_reg("q26_ngram_jaccard_pairs", _SHJ_SPARK, _SHJ_DUCK)

# 27. token counting: whitespace + BPE-ish regex classes
_BPE = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"
_reg(
    "q27_token_stats",
    f"""SELECT doc_id,
       CAST(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
            ELSE size(split(trim(coalesce(text, '')), '\\s+')) END AS BIGINT) AS ws_tokens,
       CAST(regexp_count(coalesce(text, ''), '{_BPE}') AS BIGINT) AS bpe_tokens
    FROM documents""",
    f"""SELECT doc_id,
       CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
            ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+')) END AS ws_tokens,
       len(regexp_extract_all(coalesce(text, ''), '{_BPE}')) AS bpe_tokens
    FROM documents""",
)

# 28. quality scoring: alpha/punct/length/stopword components, floor(score*1e6)
_Q_SPARK = """
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_alpha AS BIGINT) AS n_alpha,
       CAST(n_punct AS BIGINT) AS n_punct,
       CAST(n_stop AS BIGINT) AS n_stop,
       CAST(floor((n_alpha / s + (1.0 - n_punct / s)
                   + least(n_chars / 500.0, 1.0)
                   + least(n_stop / 20.0, 1.0)) / 4.0 * 1e6) AS BIGINT) AS quality_x1e6
FROM (
  SELECT doc_id,
         length(coalesce(text, '')) AS n_chars,
         length(coalesce(text, '')) - length(regexp_replace(coalesce(text, ''), '[A-Za-z]', '')) AS n_alpha,
         length(coalesce(text, '')) - length(regexp_replace(coalesce(text, ''), {NOPUNCT}, '')) AS n_punct,
         {NSTOP} AS n_stop,
         greatest(CAST(length(coalesce(text, '')) AS DOUBLE), 1.0) AS s
  FROM documents
)
"""
_reg(
    "q28_quality_score",
    _Q_SPARK.replace("{NOPUNCT}", "'[^\\w\\s]'").replace(
        "{NSTOP}", "regexp_count(lower(coalesce(text, '')), '\\b(the|and|of|to|is)\\b')"
    ),
    _Q_SPARK.replace("{NOPUNCT}", "'[^\\w\\s]'").replace(
        "{NSTOP}",
        "len(regexp_extract_all(lower(coalesce(text, '')), '\\b(the|and|of|to|is)\\b'))",
    ).replace(
        "length(regexp_replace(coalesce(text, ''), '[A-Za-z]', ''))",
        "length(regexp_replace(coalesce(text, ''), '[A-Za-z]', '', 'g'))",
    ).replace(
        "length(regexp_replace(coalesce(text, ''), '[^\\w\\s]', ''))",
        "length(regexp_replace(coalesce(text, ''), '[^\\w\\s]', '', 'g'))",
    ),
)

# 29. heuristic language ID: stopword-marker argmax (earlier lang wins ties)
_LANG_CASE = """CASE
  WHEN he >= 1 AND he >= hs AND he >= hd AND he >= hf THEN 'en'
  WHEN hs >= 1 AND hs >= hd AND hs >= hf THEN 'es'
  WHEN hd >= 1 AND hd >= hf THEN 'de'
  WHEN hf >= 1 THEN 'fr'
  ELSE 'unknown' END"""
_LANG_SPARK = f"""
SELECT doc_id,
       CAST(he AS BIGINT) AS hits_en, CAST(hs AS BIGINT) AS hits_es,
       CAST(hd AS BIGINT) AS hits_de, CAST(hf AS BIGINT) AS hits_fr,
       {_LANG_CASE} AS lang_guess
FROM (
  SELECT doc_id,
    regexp_count(lower(coalesce(text, '')), '\\b(the|and|of|to|is)\\b') AS he,
    regexp_count(lower(coalesce(text, '')), '\\b(el|la|de|que|y)\\b') AS hs,
    regexp_count(lower(coalesce(text, '')), '\\b(der|die|und|das|ist)\\b') AS hd,
    regexp_count(lower(coalesce(text, '')), '\\b(le|la|les|des|est)\\b') AS hf
  FROM documents
)
"""
_LANG_DUCK = f"""
SELECT doc_id, he AS hits_en, hs AS hits_es, hd AS hits_de, hf AS hits_fr,
       {_LANG_CASE} AS lang_guess
FROM (
  SELECT doc_id,
    len(regexp_extract_all(lower(coalesce(text, '')), '\\b(the|and|of|to|is)\\b')) AS he,
    len(regexp_extract_all(lower(coalesce(text, '')), '\\b(el|la|de|que|y)\\b')) AS hs,
    len(regexp_extract_all(lower(coalesce(text, '')), '\\b(der|die|und|das|ist)\\b')) AS hd,
    len(regexp_extract_all(lower(coalesce(text, '')), '\\b(le|la|les|des|est)\\b')) AS hf
  FROM documents
)
"""
_reg("q29_lang_id", _LANG_SPARK, _LANG_DUCK)

# 72. language-ID confusion matrix: the heuristic classifier (q29)
# against the gold lang label — the QA report any lang-ID deployment
# watches. Pure composition: classify, join gold, group-count.
_reg(
    "q72_lang_confusion",
    f"""SELECT d.lang, g.lang_guess, CAST(count(*) AS BIGINT) AS n
    FROM documents d JOIN ({_LANG_SPARK}) g ON d.doc_id = g.doc_id
    GROUP BY d.lang, g.lang_guess""",
    f"""SELECT d.lang, g.lang_guess, CAST(count(*) AS BIGINT) AS n
    FROM documents d JOIN ({_LANG_DUCK}) g ON d.doc_id = g.doc_id
    GROUP BY d.lang, g.lang_guess""",
)

# 30. per-document content fingerprint
_reg(
    "q30_fingerprint",
    "SELECT doc_id, md5(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ')))"
    " AS fingerprint FROM documents",
    f"SELECT doc_id, md5({_NORM_TXT_DUCK}) AS fingerprint FROM documents",
)

# 31. brute-force cosine top-k (exact ANN baseline)
_COS_SPARK = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS ARRAY<DOUBLE>) AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS cv FROM embeddings)
SELECT query_id, vec_id, cos_sim, CAST(rank AS BIGINT) AS rank FROM (
  SELECT q.query_id, c.vec_id,
         round(aggregate(zip_with(c.cv, q.qv, (x, y) -> x * y), 0D, (a, v) -> a + v)
               / (sqrt(aggregate(zip_with(c.cv, c.cv, (x, y) -> x * y), 0D, (a, v) -> a + v))
                  * sqrt(aggregate(zip_with(q.qv, q.qv, (x, y) -> x * y), 0D, (a, v) -> a + v))), 6)
           AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           round(aggregate(zip_with(c.cv, q.qv, (x, y) -> x * y), 0D, (a, v) -> a + v)
               / (sqrt(aggregate(zip_with(c.cv, c.cv, (x, y) -> x * y), 0D, (a, v) -> a + v))
                  * sqrt(aggregate(zip_with(q.qv, q.qv, (x, y) -> x * y), 0D, (a, v) -> a + v))), 6) DESC,
           c.vec_id ASC) AS rank
  FROM c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
) WHERE rank <= 10
"""
_COS_DUCK = """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings)
SELECT query_id, vec_id, cos_sim, rank FROM (
  SELECT q.query_id, c.vec_id,
         round(list_dot_product(c.cv, q.qv)
               / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
           AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
           round(list_dot_product(c.cv, q.qv)
               / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           c.vec_id ASC) AS rank
  FROM c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
) WHERE rank <= 10
"""
_reg("q31_cosine_topk", _COS_SPARK, _COS_DUCK)


# ---------------------------------------------------------------------------
# engine-native queries (grouped kernels — rows-only driver check; bit-exact
# parity is covered by the pytest oracle suite, SURVEY §5 Tier A/B)
# ---------------------------------------------------------------------------


def _stations_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SpatialCache-shaped slices derived from events: one
    slice per event_type, stations positioned by hashing event ids."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        F.col("event_type").alias("slice_key"),
        (F.row_number().over(
            __import__("pyspark").sql.Window.partitionBy("event_type").orderBy("event_id")
        ) - 1).cast("int").alias("station_idx"),
        (50.0 + F.pmod(F.col("event_id") * 37, F.lit(2000)) / 1000.0).cast("float").alias("lat"),
        (10.0 + F.pmod(F.col("event_id") * 73, F.lit(2000)) / 1000.0).cast("float").alias("lon"),
        (F.pmod(F.col("event_id"), F.lit(100))).cast("float").alias("elev"),
        F.col("value").cast("float").alias("value"),
        F.lit(True).alias("obs_to_check"),
    ).filter(F.col("station_idx") < 2000)


def _spatial_checkable(out: DataFrame, allowed_flags: tuple[int, ...]) -> DataFrame:
    """Partial-oracle projection for the spatial kernels: the kernel runs in
    full, and the driver hash checks (a) its keyspace — every input station
    comes back exactly once — and (b) that every engine flag lands in the
    check's legal domain (folded into a boolean the DuckDB oracle asserts
    TRUE). Flag bit-exactness itself is not ANSI-SQL-expressible; the pytest
    fixture suite owns it (tests/test_spatial_checks.py)."""
    from pyspark.sql import functions as F

    return out.select(
        "slice_key",
        "station_idx",
        F.col("flag").isin(*allowed_flags).alias("flag_valid"),
    )


# identity + flag-domain oracle over the same events-derived station set as
# _stations_from_events (row_number keyspace is deterministic; the pmod
# position columns don't matter for the checked projection)
_STATIONS_DUCK = """
SELECT slice_key, station_idx, TRUE AS flag_valid
FROM (
  SELECT event_type AS slice_key,
         CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) - 1
              AS INTEGER) AS station_idx
  FROM events
) WHERE station_idx < 2000
"""


def q_buddy_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olympian_spark.operators.qc_spatial import buddy_check_spatial

    st = _stations_from_events(spark, sf_dir)
    out = buddy_check_spatial(
        st, threshold=2.0, max_elev_diff=200.0, elev_gradient=-0.0065,
        min_std=1.0, num_iterations=2, radius=100.0, num_min=3,
    )
    # buddy_check emits PASS(0)/FAIL(1) only (oracle/spatial.py buddy_check)
    return _spatial_checkable(out, (0, 1))


def q_sct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from olympian_spark.operators.qc_spatial import sct_spatial

    st = _stations_from_events(spark, sf_dir)
    out = sct_spatial(
        st, num_min=5, num_max=50, inner_radius=50.0, outer_radius=100.0,
        num_iterations=2, num_min_prof=20, min_elev_diff=50.0,
        min_horizontal_scale=10.0, vertical_scale=200.0,
        pos=4.0, neg=4.0, eps2=0.5, use_obs_to_check=True,
    )
    # sct emits PASS(0)/FAIL(1)/INVALID(4)/ISOLATED(6) (oracle/spatial.py sct)
    return _spatial_checkable(out, (0, 1, 4, 6))


def q_tier_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine pipeline (f32 tiers + Gorilla blocks + exact p95) over the
    events-derived transcripts; returns the 1h tier sans binary column."""
    from olympian_spark.plans.pipeline import QcParams, build_tiers
    from olympian_spark.sources.transcripts import transcripts_from_events

    t = transcripts_from_events(spark, sf_dir)
    tiers = build_tiers(t, QcParams(dip_high=60.0, dip_max=1800.0), persist=False)
    return tiers["tier_1h"].drop("block")


def q_tier_pipeline_checkable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship pipeline's SQL-decomposable columns, so the driver gets
    a full rows+schema+hash check on the engine path (the f32 measure
    columns sum_gap/mean_gap/p95_gap stay engine-native, bit-matched by the
    pytest oracle suite; the full output is exercised by entry())."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    full = q_tier_pipeline(spark, sf_dir)
    return full.select(
        "conv_id",
        F.unix_seconds(F.col("bucket_start").cast("timestamp")).alias("bucket_s"),
        "n_turns",
        "n_qc_fail",
        "n_gap_obs",
        "n_valid_gap",
        "sum_text_len",
    )


# DuckDB oracle for q23's decomposable columns. The engine computes QC in
# f32 (qc_series.py dip_flag); DuckDB REAL arithmetic is also genuine f32
# (verified: REAL-REAL stays FLOAT and matches numpy float32 bitwise), so
# the dip CASE below mirrors the engine's float expression tree exactly:
# gap cast to REAL first, a/b/diffsum/diffdiff composed in REAL, thresholds
# as REAL literals. QcParams here: dip_high=60, dip_max=1800, FAIL=1
# excluded from measures (tier kernel `ok` mask, rollup.py _tier_table).
_Q23_DUCK = f"""
WITH g AS (
  SELECT conv_id, turn_idx, ts,
         CAST(length(coalesce(text, '')) AS BIGINT) AS text_len,
         CAST((epoch_us(ts) - LAG(epoch_us(ts)) OVER w) / 1e6 AS REAL) AS gap
  FROM ({_T_DUCK})
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
d AS (
  SELECT conv_id, ts, gap, text_len,
         LAG(gap) OVER w AS d0, LEAD(gap) OVER w AS d2
  FROM g WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
f AS (
  SELECT conv_id, ts, gap, text_len,
    CASE
      WHEN d0 IS NULL OR gap IS NULL OR d2 IS NULL THEN 5
      WHEN ((d2 < gap AND d0 < gap) OR (d2 > gap AND d0 > gap))
           AND abs(abs(d2 - gap) - abs(gap - d0))
               < abs(abs(d2 - gap) + abs(gap - d0)) * CAST(0.35 AS REAL)
      THEN CASE
             WHEN abs(abs(d2 - gap) + abs(gap - d0)) > CAST(1800.0 AS REAL) THEN 1
             WHEN abs(abs(d2 - gap) + abs(gap - d0)) > CAST(60.0 AS REAL) THEN 2
             ELSE 0 END
      ELSE 0 END AS flag_dip
  FROM d
)
SELECT conv_id, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS bucket_s,
       count(*) AS n_turns,
       CAST(sum(CASE WHEN flag_dip = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_qc_fail,
       CAST(sum(CASE WHEN flag_dip <> 1 AND gap IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gap_obs,
       CAST(sum(CASE WHEN flag_dip <> 1 AND gap IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_valid_gap,
       CAST(coalesce(sum(CASE WHEN flag_dip <> 1 THEN text_len END), 0) AS BIGINT)
         AS sum_text_len
FROM f GROUP BY conv_id, bucket_s
"""


def q_gorilla_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode + decode every conversation's turn stream; emits one row per
    conversation with n_points NEGATED if the roundtrip is not bit-exact.
    That folds the engine-native pass/fail into a column DuckDB can oracle
    (count(*) per conversation), so the driver hash checks both the codec's
    keyspace and that every conversation roundtripped. Each batch's
    conversations are encoded by one ``encode_blocks`` call, the encoder
    the tier kernels use."""
    import numpy as np
    import pyarrow as pa

    from olympian_spark.functions.gorilla import decode_block, encode_blocks
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Round-6 execution rewrite (same result, same oracle): the old path ran
    # a ROW_NUMBER window to materialize turn_idx, a lag window for
    # turn_gap_s, then one applyInPandas call PER conversation (~15k pandas
    # round-trips at sf1.0). turn_idx exists only to define the order
    # (ts, event_id), and turn_gap_s is a pure function of the ordered ts
    # stream — so both windows fold into the kernel: partition by conv_id,
    # sort within partitions by (conv_id, ts, event_id), and stream whole
    # partitions through ONE mapInArrow, slicing conversations with numpy.
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = ev.select(
        F.concat(F.lit("c"), F.col("user_id").cast("string")).alias("conv_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("event_id"),
        F.length(F.coalesce(F.col("props"), F.lit(""))).cast("float").alias("text_len"),
    )

    def roundtrip(conv_col: "pa.Array", ts: np.ndarray, tl: np.ndarray):
        """One (conv_id, n_points-or-negated) row per conversation segment."""
        import pyarrow.compute as pc

        codes = pc.dictionary_encode(conv_col).indices.to_numpy(zero_copy_only=False)
        starts = np.concatenate(
            ([0], np.flatnonzero(codes[1:] != codes[:-1]) + 1, [codes.size])
        )
        # turn_gap_s exactly as the SQL window computes it: µs int64 diff,
        # f64 divide by 1e6, cast f32; first turn NULL -> f32 NaN
        gap = np.empty(ts.size, np.float32)
        gap[1:] = (np.diff(ts).astype(np.float64) / 1e6).astype(np.float32)
        gap[starts[:-1]] = np.float32(np.nan)
        blocks = encode_blocks(ts, [gap, tl], starts)
        n_out = np.empty(starts.size - 1, np.int64)
        for k in range(starts.size - 1):
            lo, hi = starts[k], starts[k + 1]
            t_, g_, l_ = ts[lo:hi], gap[lo:hi], tl[lo:hi]
            ts2, (g2, tl2) = decode_block(blocks[k].as_py())
            ok = (
                bool((ts2 == t_).all())
                and bool((g2.view(np.uint32) == g_.view(np.uint32)).all())
                and bool((tl2.view(np.uint32) == l_.view(np.uint32)).all())
            )
            n_out[k] = (hi - lo) if ok else -(hi - lo)
        return pa.table(
            {
                "conv_id": conv_col.take(pa.array(starts[:-1])),
                "n_points": pa.array(n_out),
            }
        )

    def stream(batches):
        pending: "pa.Table | None" = None
        for rb in batches:
            if rb.num_rows == 0:
                continue
            tbl = pa.Table.from_batches([rb])
            if pending is not None:
                tbl = pa.concat_tables([pending, tbl]).combine_chunks()
            nr = tbl.num_rows
            conv = tbl.column("conv_id").combine_chunks()
            import pyarrow.compute as pc

            same = pc.equal(conv, conv[nr - 1]).to_numpy(zero_copy_only=False)
            not_same = np.flatnonzero(~same)
            if not_same.size == 0:
                pending = tbl
                continue
            start = int(not_same[-1]) + 1
            head = tbl.slice(0, start).combine_chunks()
            pending = tbl.slice(start)
            yield from roundtrip(
                head.column("conv_id").combine_chunks(),
                head.column("ts_us").to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
                head.column("text_len").to_numpy(zero_copy_only=False).astype(np.float32, copy=False),
            ).to_batches()
        if pending is not None and pending.num_rows:
            p = pending.combine_chunks()
            yield from roundtrip(
                p.column("conv_id").combine_chunks(),
                p.column("ts_us").to_numpy(zero_copy_only=False).astype(np.int64, copy=False),
                p.column("text_len").to_numpy(zero_copy_only=False).astype(np.float32, copy=False),
            ).to_batches()

    n_part = 2 * spark.sparkContext.defaultParallelism
    return (
        base.repartition(n_part, "conv_id")
        .sortWithinPartitions("conv_id", "ts_us", "event_id")
        .select("conv_id", "ts_us", "text_len")
        .mapInArrow(stream, "conv_id string, n_points long")
    )


_GORILLA_DUCK = f"""
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_points
FROM ({_T_DUCK}) GROUP BY conv_id
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup recovery, driver-checkable (the q24 trick): the
    keyspace is the EXACT shingle-Jaccard pair set (integer counts, SQL-
    reproducible — q26's proven machinery at threshold 0.7) and ``recall_ok``
    asserts corpus-level LSH recall >= 0.9 over that keyspace. Recall is a
    PROBABILISTIC property (16 bands x 2 rows -> ~(1-s^2)^16 ~ 2e-5 miss
    chance per 0.7-Jaccard pair), so the oracle asserts the aggregate bound
    rather than per-pair recovery — robust to regenerated/scaled test data;
    pytest owns the candidate==brute-force count equivalence."""
    from olympian_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = ngram_jaccard_pairs(docs, n=3, threshold=0.7, max_doc_freq=None)
    lsh = minhash_lsh_pairs(docs, n=3, k=32, bands=16, threshold=0.7)
    flagged = exact.join(
        lsh.select("doc_a", "doc_b", F.lit(True).alias("_f")), ["doc_a", "doc_b"], "left"
    ).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b",
        F.coalesce(F.col("_f"), F.lit(False)).alias("_found"),
    )
    recall = flagged.agg(
        (F.sum(F.col("_found").cast("long")) >= 0.9 * F.count(F.lit(1))).alias(
            "recall_ok"
        )
    )
    return flagged.crossJoin(F.broadcast(recall)).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b", "recall_ok"
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding, driver-checkable: over the exact near-dup keyspace,
    ``band_consistent`` asserts the 16-bit-band pigeonhole operator agrees
    with a direct per-pair signature hamming — (pair in banded output) ==
    (hamming <= 3), which the pigeonhole construction guarantees
    deterministically. The oracle asserts TRUE on every true pair; pytest
    owns the full banded-output bit-exactness."""
    from olympian_spark.operators.dedup import (
        ngram_jaccard_pairs,
        simhash_pairs,
        simhash_signatures,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = ngram_jaccard_pairs(docs, n=3, threshold=0.7, max_doc_freq=None)
    sig = simhash_signatures(docs)
    banded = simhash_pairs(docs, max_hamming=3)
    direct = (
        exact.join(
            sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("_sa")),
            "doc_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("_sb")),
            "doc_b",
        )
        .withColumn("_hd", F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))))
    )
    return direct.join(
        banded.select("doc_a", "doc_b", F.lit(True).alias("_in")), ["doc_a", "doc_b"], "left"
    ).select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b",
        (F.coalesce(F.col("_in"), F.lit(False)) == (F.col("_hd") <= F.lit(3))).alias(
            "band_consistent"
        ),
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with the per-query recall-vs-exact check folded into a
    boolean the DuckDB oracle asserts TRUE (the q24 trick): both the approx
    and the exact top-k run engine-side; the driver hash then checks the ANN
    path end-to-end (keyspace + result count + recall bound) even though the
    seeded-hyperplane buckets themselves are not ANSI-SQL-expressible."""
    from olympian_spark.operators.similarity import cosine_topk, lsh_ann_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    approx = lsh_ann_topk(emb, qs, dim=64, k=10, n_planes=6, multiprobe_bits=2)
    exact = cosine_topk(emb, qs, k=10)
    hits = approx.join(exact, ["query_id", "vec_id"], "left_semi")
    per_q = (
        approx.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k_returned"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("_hits")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "k_returned",
            # uniform random vectors are LSH's worst case; 6 planes +
            # 2-bit multiprobe gives recall far above the 0.2 floor
            (F.coalesce(F.col("_hits"), F.lit(0)) >= F.lit(2)).alias("recall_ok"),
        )
    )
    return per_q


_ANN_DUCK = """
SELECT vec_id AS query_id, CAST(10 AS BIGINT) AS k_returned, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 5
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN with the recall-vs-exact bound folded into a
    boolean, mirroring q34: seeded driver-side spherical k-means codebook,
    relational list assignment + nprobe search, exact rerank. The same
    conservative floor as q34 applies (uniform random vectors are the
    worst case for any coarse quantizer; 6 of 16 lists probed scans ~37%
    of this corpus, and centroid-correlated neighbours push recall well
    above the 0.2 floor)."""
    from olympian_spark.operators.similarity import cosine_topk, ivf_ann_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    approx = ivf_ann_topk(emb, qs, dim=64, k=10, n_lists=16, nprobe=6)
    exact = cosine_topk(emb, qs, k=10)
    hits = approx.join(exact, ["query_id", "vec_id"], "left_semi")
    return (
        approx.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k_returned"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("_hits")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "k_returned",
            (F.coalesce(F.col("_hits"), F.lit(0)) >= F.lit(2)).alias("recall_ok"),
        )
    )


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (ADC shortlist + exact rerank) with the
    recall-vs-exact bound folded into a boolean, mirroring q34/q39:
    seeded driver-side subspace k-means codebooks, corpus scanned as
    8-byte codes, per-query LUT gather-sum, top-80 shortlist refined by
    exact cosine on a broadcast candidate fetch. Uniform random vectors
    are PQ's worst case; the >=2-of-10 floor is the same conservative
    bound the other ANN paths use."""
    from olympian_spark.operators.similarity import cosine_topk, pq_ann_topk
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 5)
    approx = pq_ann_topk(emb, qs, dim=64, k=10, m=8, rerank_factor=8)
    exact = cosine_topk(emb, qs, k=10)
    hits = approx.join(exact, ["query_id", "vec_id"], "left_semi")
    return (
        approx.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k_returned"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("_hits")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            "k_returned",
            (F.coalesce(F.col("_hits"), F.lit(0)) >= F.lit(2)).alias("recall_ok"),
        )
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, driver-checkable via planted exact
    duplicates: vec_id < 20 are duplicated at id+1_000_000 with IDENTICAL
    vectors. Identical vectors land on the same side of every hyperplane,
    so the LSH-bucketed operator (bucketing + salting + exact cosine
    verify — the real engine path) must recover exactly those 20 pairs at
    threshold 0.999: random 64-dim embeddings have cos ~ N(0, 1/8), so
    natural >=0.999 pairs do not occur, and the result keyspace is closed
    form for the DuckDB oracle."""
    from olympian_spark.operators.similarity import embedding_near_dup_pairs
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dups = emb.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    aug = emb.unionByName(dups)
    pairs = embedding_near_dup_pairs(aug, dim=64, threshold=0.999)
    return pairs.select(
        "vec_a", "vec_b", F.round("cos_sim", 3).alias("cos_sim")
    )


_NEARDUP_DUCK = """
SELECT CAST(vec_id AS BIGINT) AS vec_a,
       CAST(vec_id + 1000000 AS BIGINT) AS vec_b,
       CAST(1.0 AS DOUBLE) AS cos_sim
FROM embeddings WHERE vec_id < 20
"""


def q_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode + features, driver-checkable: ``decode_ok`` is a
    genuine encode->decode roundtrip against generation-time ground truth
    (exact pixel / quantized-sample sums recorded BEFORE encoding), and
    ``feature_ok`` asserts the extracted vector is finite and FEATURE_DIM
    wide. Keyspace (media_id, kind) is a closed form of media_id, so the
    DuckDB oracle reproduces it from range(120) and asserts both booleans."""
    from olympian_spark.operators.multimodal import (
        FEATURE_DIM,
        decode_verify,
        extract_features,
        gen_fake_media,
    )
    from pyspark.sql import functions as F

    media = gen_fake_media(spark, n=120, with_truth=True)
    ver = decode_verify(media)
    feats = extract_features(media).select(
        "media_id",
        (
            (F.size("feature") == FEATURE_DIM)
            & ~F.exists("feature", lambda v: F.isnan(v) | v.isNull())
        ).alias("feature_ok"),
    )
    return ver.join(feats, "media_id").select(
        "media_id", "kind", "decode_ok", "feature_ok"
    )


_MULTIMODAL_DUCK = """
SELECT CAST(r.range AS BIGINT) AS media_id,
       CASE CAST(r.range % 3 AS INT)
         WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       TRUE AS decode_ok, TRUE AS feature_ok
FROM range(120) r
"""


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query-term
    set (operators/textstats.bm25_score): JVM regexp term frequencies, a
    reduce-to-one-row corpus-stats aggregate broadcast back over the
    corpus — no corpus shuffle. The oracle recomputes the same closed-form
    expression in SQL; both sides integerize as floor(score * 1e6), and
    the corpus stats (avg doc length, per-term document frequency) are
    exact integer ratios so the doubles agree bit-for-bit."""
    from olympian_spark.operators.textstats import bm25_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_score(docs, ["spark", "join", "vector"])


_BM25_DUCK = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
              ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+'))
         END AS dl,
         len(regexp_extract_all(lower(coalesce(text, '')), '\\bspark\\b')) AS tf_spark,
         len(regexp_extract_all(lower(coalesce(text, '')), '\\bjoin\\b')) AS tf_join,
         len(regexp_extract_all(lower(coalesce(text, '')), '\\bvector\\b')) AS tf_vector
  FROM documents
), s AS (
  SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl,
         sum(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS df_spark,
         sum(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS df_join,
         sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS df_vector
  FROM d
)
SELECT d.doc_id, CAST(d.dl AS BIGINT) AS dl,
       CAST(tf_spark AS BIGINT) AS tf_spark,
       CAST(tf_join AS BIGINT) AS tf_join,
       CAST(tf_vector AS BIGINT) AS tf_vector,
       CAST(floor((
           ln((CAST(n_docs AS DOUBLE) - CAST(df_spark AS DOUBLE) + 0.5)
              / (CAST(df_spark AS DOUBLE) + 0.5) + 1.0)
             * CAST(tf_spark AS DOUBLE) * 2.2
             / (CAST(tf_spark AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / avgdl))
         + ln((CAST(n_docs AS DOUBLE) - CAST(df_join AS DOUBLE) + 0.5)
              / (CAST(df_join AS DOUBLE) + 0.5) + 1.0)
             * CAST(tf_join AS DOUBLE) * 2.2
             / (CAST(tf_join AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / avgdl))
         + ln((CAST(n_docs AS DOUBLE) - CAST(df_vector AS DOUBLE) + 0.5)
              / (CAST(df_vector AS DOUBLE) + 0.5) + 1.0)
             * CAST(tf_vector AS DOUBLE) * 2.2
             / (CAST(tf_vector AS DOUBLE)
                + 1.2 * (0.25 + 0.75 * CAST(d.dl AS DOUBLE) / avgdl))
       ) * 1e6) AS BIGINT) AS bm25_x1e6
FROM d, s
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: exact shingle-Jaccard pairs (q26's keyspace at
    0.8, uncapped) -> connected components via alternating
    large-star/small-star (O(log n) rounds, dedup.connected_components)
    -> every document labeled with its cluster minimum + cluster size.
    The oracle recomputes components as a recursive-CTE transitive
    closure over the SAME pair query — tractable at sf0.01, while the
    Spark side is the plan that survives 100 TB."""
    from pyspark.sql import functions as F

    from olympian_spark.operators.dedup import (
        connected_components,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, threshold=0.8, max_doc_freq=None)
    comp = connected_components(pairs).withColumnRenamed("node", "doc_id")
    labeled = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn(
            "component", F.coalesce("component", F.col("doc_id").cast("long"))
        )
    )
    sizes = labeled.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return labeled.join(sizes, "component").select(
        "doc_id", "component", "n_members"
    )


_CLUSTERS_DUCK = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({_SHJ_DUCK}) t
), sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
), comp AS (
  SELECT u AS doc_id, least(min(v), u) AS component FROM reach GROUP BY u
), labeled AS (
  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT l.doc_id, CAST(l.component AS BIGINT) AS component,
       CAST(s.n_members AS BIGINT) AS n_members
FROM labeled l
JOIN (SELECT component, count(*) AS n_members FROM labeled GROUP BY component) s
  USING (component)
"""


def q_codec_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-codec decode matrix over the deterministic media table: every
    payload of every REAL codec (ppm/bmp/png/jpeg/gif image,
    wav/flac/ima-adpcm/µ-law audio, mjpeg-avi video) must survive a full
    encode->decode roundtrip against generation-time ground truth; h264 is
    the deliberate library-fallback row (payload-length check only). The
    generator cycles codecs in closed form over media_id
    (multimodal.gen_fake_media), so the per-codec counts are a VALUES
    literal for the DuckDB oracle: n=240 -> 16 each of ppm/bmp/png/jpeg/gif,
    20 each of wav/flac/adpcm/ulaw, 40 each of h264/mjpeg, all decode_ok."""
    from olympian_spark.operators.multimodal import decode_verify, gen_fake_media
    from pyspark.sql import functions as F

    media = gen_fake_media(spark, n=240, with_truth=True)
    codecs = media.select("media_id", F.col("meta.codec").alias("codec"))
    return (
        decode_verify(media)
        .join(codecs, "media_id")
        .groupBy("codec")
        .agg(
            F.count(F.lit(1)).alias("n_payloads"),
            F.sum(F.col("decode_ok").cast("long")).alias("n_decoded"),
            F.min("decode_ok").alias("all_ok"),
        )
    )


_CODEC_MATRIX_DUCK = """
SELECT codec, CAST(n AS BIGINT) AS n_payloads, CAST(n AS BIGINT) AS n_decoded,
       TRUE AS all_ok
FROM (VALUES ('ppm', 16), ('bmp', 16), ('png', 16), ('jpeg', 16), ('gif', 16),
             ('wav', 20), ('flac', 20), ('adpcm', 20), ('ulaw', 20),
             ('h264', 40), ('mjpeg', 40)) t(codec, n)
"""

_MINHASH_DUCK = _SHJ_DUCK.replace(
    "WHERE c.n_common >= 0.8", "WHERE c.n_common >= 0.7"
).replace(
    "sb.n_sh AS n_b\nFROM common c", "sb.n_sh AS n_b, TRUE AS recall_ok\nFROM common c"
)

_SIMHASH_DUCK = _SHJ_DUCK.replace(
    "WHERE c.n_common >= 0.8", "WHERE c.n_common >= 0.7"
).replace(
    "sb.n_sh AS n_b\nFROM common c",
    "sb.n_sh AS n_b, TRUE AS band_consistent\nFROM common c",
)

# the .replace() derivations silently no-op if _SHJ_DUCK is ever reworded;
# fail at import instead of as a confusing driver hash-mismatch
assert "0.7" in _MINHASH_DUCK and "recall_ok" in _MINHASH_DUCK
assert "0.7" in _SIMHASH_DUCK and "band_consistent" in _SIMHASH_DUCK


def q_distinct_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct users via the MERGEABLE HLL sketch cascade
    (operators/distinct.py): events -> 1m sketch tier -> 1h (sketch
    union) -> 1d (sketch union) -> estimate. Distinct counts are not
    decomposable, so this is the tier model's only scale-correct path —
    shuffles move (bucket, <=4KB sketch) pairs, never raw keys, and the
    cascade never rescans raw data. Exact columns (n_rows from the
    cascade partials, n_users from the exact-distinct path) value-hash
    against DuckDB; the sketch estimate itself is checked as a
    probabilistic-safe BOUND (|est/exact - 1| <= 5%, ~3 sigma at
    lg_k=12), the q32 precedent — an exact-value oracle only held while
    per-day cardinality sat in sparse mode (it passed at sf0.01's ~1.3k
    users/day but broke at sf0.1's denser days)."""
    from olympian_spark.operators.distinct import (
        distinct_coarser,
        distinct_rollup,
        with_distinct_estimate,
    )
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t1m = distinct_rollup(ev, "user_id", grain="minute")
    t1d = distinct_coarser(distinct_coarser(t1m, "hour"), "day")
    est = with_distinct_estimate(t1d, "n_users_hll").select(
        F.to_date("bucket_start").alias("day"), "n_rows", "n_users_hll"
    )
    exact = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("n_users")
    )
    return est.join(exact, "day").select(
        "day",
        "n_rows",
        "n_users",
        (
            F.abs(F.col("n_users_hll") - F.col("n_users"))
            <= F.lit(0.05) * F.col("n_users")
        ).alias("hll_ok"),
    )


_DISTINCT_DUCK = """
SELECT date_trunc('day', ts) AS day,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users,
       TRUE AS hll_ok
FROM events GROUP BY 1
"""

# q45 synthetic maintenance windows: a closed form of the window id so
# both engines generate the identical interval set (120 windows, starts
# spread over the events table's 29-day span, durations 30min..6.5h)
_EPOCH_20240101 = 1704067200
_W_START_S = "({j} * 176369) % (29 * 86400)"
_W_DUR_S = "1800 + ({j} * 7919) % 21600"


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events x time-window containment via the bucketed band join
    (operators/intervals.py): intervals explode to covered hour buckets,
    events map to ONE bucket, equi-join + exact predicate — never the
    O(n*m) BroadcastNestedLoop a raw BETWEEN join plans to. Values are
    quantized to integers (x1000) so per-window sums are order-exact;
    the oracle runs the naive BETWEEN join, fine at sf0.01."""
    from olympian_spark.operators.intervals import interval_join
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "ts",
        F.round(F.col("value") * 1000).cast("long").alias("v_x1000"),
    )
    j = F.col("id")
    iv = spark.range(120).select(
        j.alias("w_id"),
        F.timestamp_seconds(
            F.lit(_EPOCH_20240101) + F.expr(_W_START_S.format(j="id"))
        ).alias("w_start"),
        F.timestamp_seconds(
            F.lit(_EPOCH_20240101)
            + F.expr(_W_START_S.format(j="id"))
            + F.expr(_W_DUR_S.format(j="id"))
        ).alias("w_end"),
    )
    return (
        interval_join(ev, iv, grain="hour")
        .groupBy("w_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_x1000").alias("sum_v_x1000"),
        )
    )


_INTERVAL_DUCK = f"""
WITH w AS (
  SELECT CAST(r.range AS BIGINT) AS w_id,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds({_W_START_S.format(j="r.range")}) AS w_start,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_seconds({_W_START_S.format(j="r.range")}
                        + {_W_DUR_S.format(j="r.range")}) AS w_end
  FROM range(120) r
)
SELECT w.w_id, count(*) AS n_events,
       CAST(sum(CAST(round(e.value * 1000) AS BIGINT)) AS BIGINT) AS sum_v_x1000
FROM w JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.w_id
"""


def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 6h z-score anomaly signal per user over events
    (operators/window_stats.rolling_zscore): one RANGE window = one
    exchange. Values quantized x1000 so (sum, sum-of-squares, count) are
    exact integers; the z expression is then the identical IEEE tree in
    both engines and floor(z*1e6) hash-matches bitwise."""
    from olympian_spark.operators.window_stats import rolling_zscore
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts",
        F.round(F.col("value") * 1000).cast("long").alias("v"),
    )
    return rolling_zscore(
        ev, "v", by="user_id", window_s=6 * 3600, min_periods=5
    ).select("event_id", "zscore_x1e6")


_ZSCORE_DUCK = """
WITH q AS (
  SELECT event_id, user_id, ts,
         CAST(CAST(round(value * 1000) AS BIGINT) AS DOUBLE) AS v
  FROM events
), s AS (
  SELECT event_id, v,
         CAST(count(v) OVER w AS DOUBLE) AS n,
         sum(v) OVER w AS s,
         sum(v * v) OVER w AS ssq
  FROM q
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL 6 HOUR PRECEDING AND CURRENT ROW)
)
SELECT event_id,
       CASE WHEN n >= 5 AND (ssq - s * s / n) / (n - 1) > 0
            THEN CAST(floor((v - s / n) / sqrt((ssq - s * s / n) / (n - 1))
                            * 1e6) AS BIGINT)
       END AS zscore_x1e6
FROM s
"""


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-term truncated EWMA (alpha=0.3, adjust-normalized) per user
    (operators/window_stats.ewma): a fixed fan of lag terms in ONE window
    — no sequential recursion, no UDF. The oracle is the same closed-form
    weighted sum with identical float weight literals, so floor(y*1e6)
    matches bitwise; event_id breaks timestamp ties identically."""
    from olympian_spark.operators.window_stats import ewma
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts",
        F.round(F.col("value") * 1000).cast("long").alias("v"),
    )
    return ewma(
        ev, "v", by="user_id", alpha=0.3, window=16, tiebreak="event_id"
    ).select("event_id", "ewma_x1e6")


def _ewma_duck(alpha: float = 0.3, window: int = 16) -> str:
    num, den = [], []
    for k in range(window):
        wt = repr(float((1.0 - alpha) ** k))
        x = f"lag(v, {k}) OVER w"
        num.append(f"coalesce({x} * {wt}, 0.0)")
        den.append(f"CASE WHEN {x} IS NOT NULL THEN {wt} ELSE 0.0 END")
    # sum built as a left-fold FROM the 0.0 seed in k order: float addition
    # is non-associative, so the association must match the Spark side's
    # expression construction (((0.0 + t0) + t1) + ...) exactly
    num_e = "0.0"
    den_e = "0.0"
    for k in range(window):
        num_e = f"({num_e} + {num[k]})"
        den_e = f"({den_e} + {den[k]})"
    return f"""
WITH q AS (
  SELECT event_id, user_id, ts,
         CAST(CAST(round(value * 1000) AS BIGINT) AS DOUBLE) AS v
  FROM events
)
SELECT event_id,
       CAST(floor({num_e} / {den_e} * 1e6) AS BIGINT) AS ewma_x1e6
FROM q
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


_EWMA_DUCK = _ewma_duck()


def q_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visualization downsampling (Jugel et al. VLDB'14) per user over
    6h buckets (operators/downsample.py): min/max/first/last value + the
    first/last timestamps — the four points per pixel column that render
    a line chart error-free. ONE groupBy with map-side-combining
    min/max/min_by/max_by partials; no window, no sort. (user_id, ts) is
    unique at every SF (verified), so ts alone orders first/last
    deterministically in both engines."""
    from olympian_spark.operators.downsample import m4_downsample
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "ts",
        F.round(F.col("value") * 1000).cast("long").alias("v"),
    )
    out = m4_downsample(ev, "v", by="user_id", bucket_s=6 * 3600)
    # parquet timestamps read as NTZ; the operator's internal casts promote
    # to the session (UTC) TZ type — normalize back so Arrow schemas match
    return out.select(
        "user_id",
        F.col("bucket_start").cast("timestamp_ntz").alias("bucket_start"),
        "n", "v_min", "v_max", "v_first", "v_last",
        F.col("ts_first").cast("timestamp_ntz").alias("ts_first"),
        F.col("ts_last").cast("timestamp_ntz").alias("ts_last"),
    )


_M4_DUCK = """
SELECT user_id,
       make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
         AS bucket_start,
       count(*) AS n,
       min(v) AS v_min, max(v) AS v_max,
       arg_min(v, ts) AS v_first, arg_max(v, ts) AS v_last,
       min(ts) AS ts_first, max(ts) AS ts_last
FROM (SELECT user_id, ts, CAST(round(value * 1000) AS BIGINT) AS v FROM events)
GROUP BY 1, 2
"""


def q_coalesce_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: merge overlapping-or-touching intervals per key
    into maximal disjoint spans (operators/intervals.coalesce_intervals).
    Running-max-of-prior-ends island detection — robust to intervals
    nested inside earlier long ones, where lag(end)-based merges split
    wrongly. 240 synthetic intervals in closed form of the id (8 keys),
    integer bounds; the oracle replays the identical window logic."""
    from olympian_spark.operators.intervals import coalesce_intervals
    from pyspark.sql import functions as F

    iv = spark.range(240).select(
        (F.col("id") % 8).alias("key"),
        ((F.col("id") * 104729) % 100000).alias("w_start"),
        ((F.col("id") * 104729) % 100000 + 500 + (F.col("id") * 7919) % 9000
         ).alias("w_end"),
    )
    return coalesce_intervals(iv, by="key")


_COALESCE_DUCK = """
WITH iv AS (
  SELECT CAST(r.range % 8 AS BIGINT) AS key,
         CAST((r.range * 104729) % 100000 AS BIGINT) AS w_start,
         CAST((r.range * 104729) % 100000
              + 500 + (r.range * 7919) % 9000 AS BIGINT) AS w_end
  FROM range(240) r
), flagged AS (
  SELECT key, w_start, w_end,
         CASE WHEN max(w_end) OVER (PARTITION BY key ORDER BY w_start, w_end
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   IS NULL
              OR w_start > max(w_end) OVER (PARTITION BY key ORDER BY w_start, w_end
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), islands AS (
  SELECT key, w_start, w_end,
         sum(new_island) OVER (PARTITION BY key ORDER BY w_start, w_end
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM flagged
)
SELECT key, min(w_start) AS island_start, max(w_end) AS island_end,
       count(*) AS n_merged
FROM islands GROUP BY key, island
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition signals
    (operators/curation.with_repetition_stats): duplicate-word fraction
    and top-2-gram fraction, computed per row with higher-order array
    functions (the top-gram multiplicity is the longest equal run of the
    sorted 2-gram array via one `aggregate` fold) — zero shuffles, zero
    explodes; at 100 TB this runs at scan speed. The oracle recomputes
    the same stats relationally (unnest + group-by) in DuckDB; fractions
    are exported as floor(frac*1e6) integers on both sides."""
    from olympian_spark.operators.curation import with_repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return with_repetition_stats(docs).select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        "dup_word_frac_x1e6",
        "n_2grams",
        "top_2gram_count",
        "top_2gram_frac_x1e6",
    )


_REPETITION_DUCK = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))) = 0
              THEN CAST([] AS VARCHAR[])
              ELSE string_split(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')), ' ')
         END AS ws
  FROM documents
), base AS (
  SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct FROM t
), grams AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i + 1])) AS g
  FROM t WHERE len(ws) >= 2
), gc AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g
), topg AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS n_grams FROM gc GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_words AS BIGINT) AS n_words,
       CAST(b.n_distinct AS BIGINT) AS n_distinct_words,
       CAST(CASE WHEN b.n_words > 0
                 THEN floor(CAST(b.n_words - b.n_distinct AS DOUBLE) / b.n_words * 1e6)
                 ELSE 0 END AS BIGINT) AS dup_word_frac_x1e6,
       CAST(coalesce(tg.n_grams, 0) AS BIGINT) AS n_2grams,
       CAST(coalesce(tg.top_c, 0) AS BIGINT) AS top_2gram_count,
       CAST(CASE WHEN coalesce(tg.n_grams, 0) > 0
                 THEN floor(CAST(tg.top_c AS DOUBLE) / tg.n_grams * 1e6)
                 ELSE 0 END AS BIGINT) AS top_2gram_frac_x1e6
FROM base b LEFT JOIN topg tg USING (doc_id)
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum downsampling for data mixing
    (operators/curation.stratified_sample): each language keeps an exact
    hash slice of its documents via the overflow-safe multiplicative hash
    ``((id % 1000000007) * 2654435761) % 1e6`` — reproducible across
    engines, runs, and repartitionings; pure pushed-down filter, no RNG,
    no shuffle. The oracle applies the identical integer arithmetic."""
    from olympian_spark.operators.curation import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sampled = stratified_sample(
        docs,
        {"en": 0.75, "es": 0.5, "de": 0.25, "fr": 0.125},
        default_rate=0.0625,
    )
    return sampled.select("doc_id", "lang", "source", "n_chars")


_STRATIFIED_DUCK = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE ((doc_id % 1000000007) * 2654435761) % 1000000 <
      CASE lang WHEN 'en' THEN 750000 WHEN 'es' THEN 500000
                WHEN 'de' THEN 250000 WHEN 'fr' THEN 125000
                ELSE 62500 END
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/curation.pack_sequences):
    documents hash-sharded, concatenated in doc_id order per shard, the
    token stream cut every 512 tokens — the pretraining pack layout.
    One shuffle on the (uniform) shard key, a per-shard cumulative-sum
    window, nothing else; n_shards is the output-shard parallelism knob.
    The oracle replays the identical window arithmetic in DuckDB."""
    from olympian_spark.operators.curation import pack_sequences
    from olympian_spark.operators.textstats import with_token_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    packed = pack_sequences(
        with_token_counts(docs), token_col="ws_tokens", budget=512, n_shards=4
    )
    return packed.select(
        "doc_id", "shard", "ws_tokens", "pack_id", "pack_offset", "n_packs_spanned"
    )


_PACK_DUCK = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
              ELSE len(string_split_regex(trim(coalesce(text, '')), '\\s+'))
         END AS ws_tokens,
         CAST(((doc_id % 1000000007) * 2654435761) % 1000000 % 4 AS INT) AS shard
  FROM documents
), w AS (
  SELECT doc_id, shard, ws_tokens,
         sum(ws_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - ws_tokens AS start
  FROM d
)
SELECT doc_id, shard,
       CAST(ws_tokens AS BIGINT) AS ws_tokens,
       CAST(floor(start / 512) AS BIGINT) AS pack_id,
       CAST(start % 512 AS BIGINT) AS pack_offset,
       CAST(CASE WHEN ws_tokens > 0
                 THEN floor((start + ws_tokens - 1) / 512) - floor(start / 512) + 1
                 ELSE 0 END AS BIGINT) AS n_packs_spanned
FROM w
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary table, top-100 tokens (operators/textstats.
    vocab_topk): explode → hash aggregate with map-side partial combine
    (per-partition partials bounded by |vocab|, not corpus size) →
    TakeOrderedAndProject top-k (per-partition heaps, no global sort).
    Deterministic cut: (count desc, token asc) and tokens are unique.
    The oracle is the same group-count + order + limit in DuckDB."""
    from olympian_spark.operators.textstats import vocab_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_topk(docs, k=100)


_VOCAB_DUCK = """
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                            x -> x <> '')) AS token
  FROM documents
)
SELECT token, count(*) AS n
FROM toks GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 100
"""


def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split (operators/curation.
    leakage_safe_split): duplicate groups (exact-dedup fingerprint) are
    assigned to a split WHOLE via the hash of the group representative
    (min doc_id), so byte-identical documents can never straddle
    train/test and contaminate evals. One fingerprint-keyed shuffle.
    The oracle replays the identical min-window + hash arithmetic."""
    from olympian_spark.operators.curation import leakage_safe_split
    from olympian_spark.operators.textstats import with_fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = leakage_safe_split(with_fingerprint(docs), test_frac=0.2)
    return out.select("doc_id", "fingerprint", "rep_id", "split")


_LEAKAGE_DUCK = """
WITH f AS (
  SELECT doc_id,
         md5(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents
), r AS (
  SELECT doc_id, fingerprint,
         min(doc_id) OVER (PARTITION BY fingerprint) AS rep_id
  FROM f
)
SELECT doc_id, fingerprint, CAST(rep_id AS BIGINT) AS rep_id,
       CASE WHEN ((rep_id % 1000000007) * 2654435761) % 1000000 < 200000
            THEN 'test' ELSE 'train' END AS split
FROM r
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/similarity.semantic_dedup),
    driver-checkable via the q40 planted-duplicate trick: vec_id < 20 are
    duplicated at id+1_000_000 with IDENTICAL vectors. Identical vectors
    always share a k-means cluster (same argmax), cos = 1 >= 0.999, and
    natural >= 0.999 pairs do not occur in random 64-dim embeddings — so
    exactly the 20 planted copies must be marked duplicates of their
    originals and every other row kept. The engine path exercised is the
    real one: bounded-sample k-means, vectorized assignment, salted
    in-cluster join, min-id representative."""
    from olympian_spark.operators.similarity import semantic_dedup
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dups = emb.filter(F.col("vec_id") < 20).withColumn(
        "vec_id", F.col("vec_id") + F.lit(1_000_000)
    )
    aug = emb.unionByName(dups)
    return semantic_dedup(aug, dim=64, threshold=0.999, n_lists=16)


_SEMDEDUP_DUCK = """
SELECT CAST(vec_id AS BIGINT) AS vec_id, FALSE AS is_dup,
       CAST(NULL AS BIGINT) AS dup_of
FROM embeddings
UNION ALL
SELECT CAST(vec_id + 1000000 AS BIGINT), TRUE, CAST(vec_id AS BIGINT)
FROM embeddings WHERE vec_id < 20
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/curation.decontaminate):
    documents with doc_id < 10 act as the benchmark set; every other
    document is flagged if it shares any word 3-gram with it. The
    benchmark's distinct shingle set broadcasts; the training side is
    matched map-side (never shuffled), only the hit set aggregates.
    The oracle recomputes the same shingle join relationally."""
    from olympian_spark.operators.curation import decontaminate
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 10)
    train = docs.filter(F.col("doc_id") >= 10)
    return decontaminate(train, bench, n=3)


_DECONTAM_DUCK = """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                     x -> x <> '') AS toks
  FROM documents
), bsh AS (
  SELECT DISTINCT array_to_string(toks[i : i + 2], ' ') AS shingle
  FROM tok, UNNEST(generate_series(1, len(toks) - 2)) AS g(i)
  WHERE doc_id < 10 AND len(toks) >= 3
), tsh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i : i + 2], ' ') AS shingle
  FROM tok, UNNEST(generate_series(1, len(toks) - 2)) AS g(i)
  WHERE doc_id >= 10 AND len(toks) >= 3
), hits AS (
  SELECT t.doc_id, count(*) AS n_hits
  FROM tsh t JOIN bsh USING (shingle) GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_bench_shingles,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id >= 10) d
LEFT JOIN hits h USING (doc_id)
"""


def q_mask_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/curation.mask_pii): emails / IPv4 / phone
    spans replaced with typed placeholders + per-kind counts, pure JVM
    regexp at scan speed. PII is injected in closed form of doc_id so the
    oracle reproduces the identical input and replays the same
    engine-portable regex subset (char classes + bounded quantifiers —
    same semantics in Java regex and RE2); masked text is hash-compared
    bytewise."""
    from olympian_spark.operators.curation import mask_pii
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.withColumn(
        "text",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.expr(
                "CASE WHEN doc_id % 4 = 0 THEN concat(' reach me at user', CAST(doc_id AS STRING), '@mail.example.org ok')"
                "     WHEN doc_id % 4 = 1 THEN concat(' from 192.168.', CAST(doc_id % 256 AS STRING), '.7 host')"
                "     WHEN doc_id % 4 = 2 THEN ' call 555-867-5309 now'"
                "     ELSE '' END"
            ),
        ),
    )
    return mask_pii(aug).select(
        "doc_id", "n_email", "n_ipv4", "n_phone", "masked_text"
    )


_EMAIL_PAT = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_IPV4_PAT = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
_PHONE_PAT = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

_PII_DUCK = f"""
WITH aug AS (
  SELECT doc_id,
         coalesce(text, '') ||
         CASE WHEN doc_id % 4 = 0
                THEN ' reach me at user' || CAST(doc_id AS VARCHAR) || '@mail.example.org ok'
              WHEN doc_id % 4 = 1
                THEN ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.7 host'
              WHEN doc_id % 4 = 2 THEN ' call 555-867-5309 now'
              ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{_EMAIL_PAT}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '{_IPV4_PAT}')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(t, '{_PHONE_PAT}')) AS BIGINT) AS n_phone,
       regexp_replace(
         regexp_replace(
           regexp_replace(t, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
           '{_IPV4_PAT}', '<IPV4>', 'g'),
         '{_PHONE_PAT}', '<PHONE>', 'g') AS masked_text
FROM aug
"""


# 59. semi-structured extraction: JSON props -> typed aggregate per event
# type. get_json_object stays JVM-side (no UDF); the avg is exported as
# floor(sum * 1e6 / count) on exact integers so both engines agree bitwise.
_reg(
    "q59_json_props",
    """SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(get_json_object(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(floor(sum(CAST(get_json_object(props, '$.k') AS BIGINT)) * 1000000.0
                  / count(*)) AS BIGINT) AS avg_k_x1e6
    FROM events GROUP BY event_type""",
    """SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(floor(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) * 1000000.0
                  / count(*)) AS BIGINT) AS avg_k_x1e6
    FROM events GROUP BY event_type""",
)


def q_mixing_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing rate solver (operators/curation.mixing_rates): given
    target mixture proportions over lang, compute the per-stratum keep
    rates of the largest dataset honouring them without upsampling
    (binding constraint = scarcest stratum). One map-side-combined count
    aggregate; the solve is relational arithmetic on the tiny aggregate
    (1-row broadcast cross-join, no driver collect). The oracle replays
    the identical double arithmetic — same literals, same op order."""
    from olympian_spark.operators.curation import mixing_rates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixing_rates(
        docs, {"en": 0.6, "es": 0.2, "de": 0.2}, stratum_col="lang"
    )


_MIXING_DUCK = """
WITH counts AS (
  SELECT lang AS stratum, count(*) AS n_docs,
         CASE lang WHEN 'en' THEN CAST(0.6 AS DOUBLE)
                   WHEN 'es' THEN CAST(0.2 AS DOUBLE)
                   WHEN 'de' THEN CAST(0.2 AS DOUBLE)
                   ELSE NULL END AS target
  FROM documents GROUP BY lang
), bound AS (
  SELECT min(n_docs / target) AS total_max FROM counts WHERE target IS NOT NULL
), rated AS (
  SELECT stratum, n_docs,
         CAST(floor(CASE WHEN target IS NOT NULL
                         THEN least(CAST(1.0 AS DOUBLE), target * total_max / n_docs)
                         ELSE CAST(0.0 AS DOUBLE) END * 1000000) AS BIGINT) AS rate_x1e6
  FROM counts, bound
)
SELECT stratum, CAST(n_docs AS BIGINT) AS n_docs, rate_x1e6,
       CAST(floor(rate_x1e6 * n_docs / 1000000) AS BIGINT) AS expected_kept
FROM rated
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-proxy quality scoring (operators/textstats.unigram_logprob):
    per-document mean unigram negative log-likelihood under the corpus's
    own unigram model. Per-token log-probs are quantized to floor(ln(p)
    * 1e6) BEFORE summing, so the per-doc sums are exact integer
    arithmetic — order-free and engine-portable (the ln itself follows
    the q42 BM25 precedent: same IEEE double expression both sides).
    max_vocab far exceeds the test vocabulary, so the oracle needs no
    OOV branch; the OOV floor is pinned by a unit test instead."""
    from olympian_spark.operators.textstats import unigram_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_logprob(docs)


_UNIGRAM_DUCK = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                            x -> x <> '')) AS token
  FROM documents
), vocab AS (
  SELECT token, count(*) AS cnt FROM tok GROUP BY token
), tot AS (SELECT sum(cnt) AS total FROM vocab),
lp AS (
  SELECT token,
         CAST(floor(ln(CAST(cnt AS DOUBLE) / total) * 1000000) AS BIGINT) AS lp_x1e6
  FROM vocab, tot
), scored AS (
  SELECT t.doc_id, count(*) AS n_tokens, sum(l.lp_x1e6) AS sum_lp
  FROM tok t JOIN lp l USING (token) GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.sum_lp, 0) AS BIGINT) AS sum_lp_x1e6,
       CAST(CASE WHEN coalesce(s.n_tokens, 0) > 0
                 THEN floor(-CAST(s.sum_lp AS DOUBLE) / s.n_tokens)
                 ELSE 0 END AS BIGINT) AS mean_nll_x1e6
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def q_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB downsampling (operators/downsample.lttb_downsample),
    driver-checkable against an INDEPENDENTLY derived keyspace: 4 series
    x 12 points (spikes at pos 2/5/9, small noise elsewhere, closed form
    of the id), n_out=5. The expected selection {0, 2, 4, 9, 11} — note
    pos 4, a VALLEY: after picking the pos-2 peak, the largest triangle
    against the next bucket's (spike-inflated) average is a low point,
    the thesis algorithm's defining non-greedy behaviour — was computed
    by a separate scalar implementation of the thesis pseudocode, not by
    the engine kernel, and is identical for all 4 series; the oracle
    reproduces it from the same id arithmetic (q41-style pinned
    keyspace)."""
    from olympian_spark.operators.downsample import lttb_downsample

    pts = spark.range(48).selectExpr(
        "concat('u', CAST(id DIV 12 AS STRING)) AS user_id",
        "timestamp_micros(1700000000000000 + (id % 12) * 60000000) AS ts",
        "CAST(CASE WHEN id % 12 IN (2, 5, 9) THEN 1000 + (id DIV 12) * 10 + id % 12"
        "     ELSE ((id DIV 12) * 5 + (id % 12) * 3) % 7 END AS DOUBLE) AS value",
    )
    out = lttb_downsample(pts, "value", by="user_id", n_out=5)
    # epoch micros, not timestamp: sidesteps tz-aware (Spark) vs naive
    # (DuckDB make_timestamp) Arrow typing in the hash compare
    return out.selectExpr("user_id", "unix_micros(ts) AS ts_us", "value")


_LTTB_DUCK = """
WITH pts AS (
  SELECT 'u' || CAST(r.range // 12 AS VARCHAR) AS user_id,
         r.range % 12 AS pos,
         CAST(1700000000000000 + (r.range % 12) * 60000000 AS BIGINT) AS ts_us,
         CAST(CASE WHEN r.range % 12 IN (2, 5, 9)
                   THEN 1000 + (r.range // 12) * 10 + r.range % 12
                   ELSE ((r.range // 12) * 5 + (r.range % 12) * 3) % 7
              END AS DOUBLE) AS value
  FROM range(48) r
)
SELECT user_id, ts_us, value FROM pts WHERE pos IN (0, 2, 4, 9, 11)
"""


def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENGINE-path as-of join with a match tolerance (operators/asof.py —
    the union-LOCF plan, one shuffle, no join; tolerance_s gives pandas
    merge_asof semantics: matches older than 1 hour yield NULL). Right
    side = sparse marker events (event_id % 7 == 0), deduped to one row
    per (user, ts) so the <=-tie is unambiguous in both engines. The
    oracle is DuckDB's native ASOF LEFT JOIN with the same tolerance
    CASE."""
    from olympian_spark.operators.asof import asof_join
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.pmod(F.col("event_id"), F.lit(7)) == 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("marker"))
    )
    out = asof_join(
        left, right, key="user_id", payload_cols=["marker"], tolerance_s=3600.0
    )
    return out.select(
        "event_id",
        "user_id",
        F.round(F.col("marker_asof"), 6).alias("marker_asof"),
    )


_ASOF_TOL_DUCK = """
WITH r AS (
  SELECT user_id, ts, max(value) AS marker
  FROM events WHERE event_id % 7 = 0 GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id,
       CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= CAST(3600000000 AS BIGINT)
            THEN round(r.marker, 6) END AS marker_asof
FROM events l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native ``session_window`` (gap-based merging windows)
    against a relational gaps-and-islands oracle: per user, 30-minute-gap
    sessions with start, end (last event + gap), and event count.
    Timestamps exported as epoch micros so Arrow typing is engine-neutral."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start").cast("timestamp")).alias("session_start_us"),
            F.unix_micros(F.col("w.end").cast("timestamp")).alias("session_end_us"),
            "n_events",
        )
    )


_SESSION_W_DUCK = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                 >= CAST(1800000000 AS BIGINT)
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), islands AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM flagged
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + CAST(1800000000 AS BIGINT) AS session_end_us,
       count(*) AS n_events
FROM islands GROUP BY user_id, sess
"""


def q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling (operators/curation.
    importance_sample): each document survives with probability equal to
    its quality score, decided by the deterministic overflow-safe hash —
    reproducible ablation sampling, zero RNG state. The oracle composes
    q28's quality SQL with the identical integer hash filter."""
    from olympian_spark.operators.curation import importance_sample
    from olympian_spark.operators.textstats import with_quality_score
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = with_quality_score(docs).withColumn(
        "rate", F.col("quality_x1e6").cast("double") / F.lit(1e6)
    )
    return importance_sample(scored, "rate").select("doc_id", "quality_x1e6")


def _importance_duck() -> str:
    q28 = _SQL["q28_quality_score"][1]
    return f"""
WITH q AS ({q28})
SELECT doc_id, quality_x1e6 FROM q
WHERE ((doc_id % 1000000007) * 2654435761) % 1000000 < quality_x1e6
"""


# 68. retention cohorts: users grouped by first-activity week, activity
# counted per week offset — the product-retention matrix. Week index =
# floor(epoch_us / 7 days) on purpose (calendar-free integers: immune to
# engine week-start conventions).
_COHORT_BODY = """
WITH wk AS (
  SELECT user_id, CAST(floor({EPOCH} / 604800000000) AS BIGINT) AS week_idx
  FROM events
), cohort AS (
  SELECT user_id, min(week_idx) AS cohort_week FROM wk GROUP BY user_id
)
SELECT c.cohort_week,
       w.week_idx - c.cohort_week AS week_offset,
       count(DISTINCT w.user_id) AS n_active_users
FROM wk w JOIN cohort c ON w.user_id = c.user_id
GROUP BY c.cohort_week, w.week_idx - c.cohort_week
"""
_reg(
    "q68_retention_cohorts",
    _COHORT_BODY.replace("{EPOCH}", "unix_micros(CAST(ts AS TIMESTAMP))"),
    _COHORT_BODY.replace("{EPOCH}", "epoch_us(ts)"),
)


# 70. trending tokens: per event-day, the top-3 event_types by count with
# deterministic (count desc, type asc) ranking — the windowed
# heavy-hitters report (per-day partial aggregates, rank inside the tiny
# per-day groups).
_TRENDING_BODY = """
WITH counts AS (
  SELECT CAST(floor({EPOCH} / 86400000000) AS BIGINT) AS day_idx,
         event_type, count(*) AS n
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT day_idx, event_type, n,
         row_number() OVER (PARTITION BY day_idx
                            ORDER BY n DESC, event_type ASC) AS rk
  FROM counts
)
SELECT day_idx, event_type, n, CAST(rk AS BIGINT) AS rk
FROM ranked WHERE rk <= 3
"""
_reg(
    "q70_trending_types",
    _TRENDING_BODY.replace("{EPOCH}", "unix_micros(CAST(ts AS TIMESTAMP))"),
    _TRENDING_BODY.replace("{EPOCH}", "epoch_us(ts)"),
)


# 67. ordered funnel: per user, first view -> first click AFTER it ->
# first purchase AFTER that (strict event-time ordering, the classic
# product-analytics query). Three user-keyed aggregates; each stage's
# conditional min only sees events after the prior stage's time.
_FUNNEL_BODY = """
WITH v AS (
  SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
  FROM events GROUP BY user_id
), c AS (
  SELECT e.user_id, v.t_view,
         min(CASE WHEN e.event_type = 'click' AND e.ts > v.t_view THEN e.ts END) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  GROUP BY e.user_id, v.t_view
), p AS (
  SELECT e.user_id, c.t_view, c.t_click,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts > c.t_click THEN e.ts END) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  GROUP BY e.user_id, c.t_view, c.t_click
)
SELECT user_id,
       t_view IS NOT NULL AS reached_view,
       t_click IS NOT NULL AS reached_click,
       t_purchase IS NOT NULL AS reached_purchase,
       {EPOCH_V} AS t_view_us,
       {EPOCH_C} AS t_click_us,
       {EPOCH_P} AS t_purchase_us
FROM p
"""
_reg(
    "q67_funnel",
    _FUNNEL_BODY.replace("{EPOCH_V}", "unix_micros(CAST(t_view AS TIMESTAMP))")
    .replace("{EPOCH_C}", "unix_micros(CAST(t_click AS TIMESTAMP))")
    .replace("{EPOCH_P}", "unix_micros(CAST(t_purchase AS TIMESTAMP))"),
    _FUNNEL_BODY.replace("{EPOCH_V}", "epoch_us(t_view)")
    .replace("{EPOCH_C}", "epoch_us(t_click)")
    .replace("{EPOCH_P}", "epoch_us(t_purchase)"),
)


def q_unigram_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE unigram models (the CCNet shape: each language's
    documents scored against their own distribution) — q60's machinery
    with group_col='lang'; per-group top-K cut and OOV floor. Oracle:
    the same integer-quantized arithmetic partitioned by lang."""
    from olympian_spark.operators.textstats import unigram_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_logprob(docs, group_col="lang")


_UNIGRAM_GROUPED_DUCK = """
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                            x -> x <> '')) AS token
  FROM documents
), vocab AS (
  SELECT lang, token, count(*) AS cnt FROM tok GROUP BY lang, token
), tot AS (
  SELECT lang, sum(cnt) AS total FROM vocab GROUP BY lang
), lp AS (
  SELECT v.lang, v.token,
         CAST(floor(ln(CAST(cnt AS DOUBLE) / total) * 1000000) AS BIGINT) AS lp_x1e6
  FROM vocab v JOIN tot USING (lang)
), scored AS (
  SELECT t.doc_id, count(*) AS n_tokens, sum(l.lp_x1e6) AS sum_lp
  FROM tok t JOIN lp l ON t.lang = l.lang AND t.token = l.token
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(s.sum_lp, 0) AS BIGINT) AS sum_lp_x1e6,
       CAST(CASE WHEN coalesce(s.n_tokens, 0) > 0
                 THEN floor(-CAST(s.sum_lp AS DOUBLE) / s.n_tokens)
                 ELSE 0 END AS BIGINT) AS mean_nll_x1e6
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global curriculum rank by quality (operators/curation.
    curriculum_order): the scale-correct two-pass global rank —
    repartitionByRange score slabs + per-slab row_number + broadcast
    offsets — asserted (test-pinned) to contain NO single-partition
    exchange, where the naive global window would serialize the corpus
    into one task. The oracle is that naive global window (fine at
    oracle scale), so the hash proves the distributed rank IS the
    global order."""
    from olympian_spark.operators.curation import curriculum_order
    from olympian_spark.operators.textstats import with_quality_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = with_quality_score(docs)
    return curriculum_order(scored, "quality_x1e6", n_partitions=8).select(
        "doc_id", "quality_x1e6", "curriculum_rank"
    )


def _curriculum_duck() -> str:
    q28 = _SQL["q28_quality_score"][1]
    return f"""
WITH q AS ({q28})
SELECT doc_id, quality_x1e6,
       CAST(row_number() OVER (ORDER BY quality_x1e6 DESC, doc_id ASC) - 1
            AS BIGINT) AS curriculum_rank
FROM q
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-transition LM scoring (operators/textstats.bigram_logprob):
    p(w_i | w_{i-1}) from exact corpus counts, integer-quantized before
    summing (q60's determinism contract). max_vocab far exceeds the test
    bigram space, so the oracle needs no cut branch."""
    from olympian_spark.operators.textstats import bigram_logprob

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_logprob(docs)


_BIGRAM_DUCK = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                     x -> x <> '') AS ws
  FROM documents
), trans AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i] || ' ' || ws[i + 1])) AS bigram
  FROM t WHERE len(ws) >= 2
), counts AS (
  SELECT bigram, count(*) AS cnt FROM trans GROUP BY bigram
), pref AS (
  SELECT bigram, cnt,
         sum(cnt) OVER (PARTITION BY string_split(bigram, ' ')[1]) AS prefix_cnt
  FROM counts
), lp AS (
  SELECT bigram,
         CAST(floor(ln(CAST(cnt AS DOUBLE) / prefix_cnt) * 1000000) AS BIGINT) AS lp_x1e6
  FROM pref
), scored AS (
  SELECT tr.doc_id, count(*) AS n_transitions, sum(l.lp_x1e6) AS sum_lp
  FROM trans tr JOIN lp l USING (bigram) GROUP BY tr.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_transitions, 0) AS BIGINT) AS n_transitions,
       CAST(coalesce(s.sum_lp, 0) AS BIGINT) AS sum_lp_x1e6,
       CAST(CASE WHEN coalesce(s.n_transitions, 0) > 0
                 THEN floor(-CAST(s.sum_lp AS DOUBLE) / s.n_transitions)
                 ELSE 0 END AS BIGINT) AS mean_nll_x1e6
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: QC-filtered 1h rollup with
    exact p95 + Gorilla blocks over the events-derived transcripts."""
    return q_tier_pipeline(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        name: _sql_query(spark_sql) for name, (spark_sql, _) in _SQL.items()
    }
    out["q21_buddy_check_kernel"] = q_buddy_check
    out["q22_sct_kernel"] = q_sct
    out["q23_tier_pipeline_1h"] = q_tier_pipeline_checkable
    out["q24_gorilla_roundtrip"] = q_gorilla_roundtrip
    out["q32_minhash_lsh_pairs"] = q_minhash_lsh
    out["q33_simhash_pairs"] = q_simhash
    out["q34_ann_lsh_topk"] = q_ann_lsh
    out["q39_ann_ivf_topk"] = q_ann_ivf
    out["q35_multimodal_features"] = q_multimodal
    out["q40_embedding_near_dup"] = q_embedding_near_dup
    out["q41_codec_matrix"] = q_codec_matrix
    out["q42_bm25"] = q_bm25
    out["q43_dedup_clusters"] = q_dedup_clusters
    out["q44_distinct_tiers_hll"] = q_distinct_tiers
    out["q45_interval_join"] = q_interval_join
    out["q46_rolling_zscore"] = q_rolling_zscore
    out["q47_ewma"] = q_ewma
    out["q48_m4_downsample"] = q_m4_downsample
    out["q49_coalesce_intervals"] = q_coalesce_intervals
    out["q50_repetition_stats"] = q_repetition_stats
    out["q51_stratified_sample"] = q_stratified_sample
    out["q52_pack_sequences"] = q_pack_sequences
    out["q53_vocab_topk"] = q_vocab_topk
    out["q54_leakage_split"] = q_leakage_split
    out["q55_semantic_dedup"] = q_semantic_dedup
    out["q56_decontaminate"] = q_decontaminate
    out["q57_mask_pii"] = q_mask_pii
    out["q58_mixing_rates"] = q_mixing_rates
    out["q60_unigram_logprob"] = q_unigram_logprob
    out["q61_lttb_downsample"] = q_lttb
    out["q62_ann_pq_topk"] = q_ann_pq
    out["q63_asof_tolerance"] = q_asof_tolerance
    out["q64_session_window"] = q_session_window
    out["q65_importance_sample"] = q_importance_sample
    out["q66_unigram_grouped"] = q_unigram_grouped
    out["q69_curriculum_order"] = q_curriculum_order
    out["q71_bigram_logprob"] = q_bigram_logprob
    return out


def oracle_sql() -> dict[str, str]:
    out = {name: duck for name, (_, duck) in _SQL.items()}
    # engine-path queries with hand-built oracles (not in _SQL because the
    # Spark side is engine code, not a SQL string):
    # q23 — f32-faithful decomposable tier columns;
    # q21/q22 — spatial-kernel keyspace + flag-domain projection;
    # q24 — codec roundtrip folded into the sign of n_points.
    out["q23_tier_pipeline_1h"] = _Q23_DUCK
    out["q21_buddy_check_kernel"] = _STATIONS_DUCK
    out["q22_sct_kernel"] = _STATIONS_DUCK
    out["q24_gorilla_roundtrip"] = _GORILLA_DUCK
    # q34/q39 — ANN recall-vs-exact bound folded into a boolean (q24 trick)
    out["q34_ann_lsh_topk"] = _ANN_DUCK
    out["q39_ann_ivf_topk"] = _ANN_DUCK
    # q32/q33 — exact-Jaccard keyspace (q26's machinery at 0.7) + recovery /
    # band-consistency booleans; q35 — closed-form keyspace + roundtrip and
    # feature booleans
    out["q32_minhash_lsh_pairs"] = _MINHASH_DUCK
    out["q33_simhash_pairs"] = _SIMHASH_DUCK
    out["q35_multimodal_features"] = _MULTIMODAL_DUCK
    # q40 — planted-exact-duplicate keyspace is closed form (identical
    # vectors share every LSH bucket deterministically)
    out["q40_embedding_near_dup"] = _NEARDUP_DUCK
    # q41 — the generator's codec cycle is a closed form of media_id, so the
    # per-codec roundtrip counts are a VALUES literal
    out["q41_codec_matrix"] = _CODEC_MATRIX_DUCK
    # q42 — the SAME closed-form BM25 expression recomputed in SQL; exact
    # integer corpus stats keep the doubles bitwise-equal across engines
    out["q42_bm25"] = _BM25_DUCK
    # q43 — components via recursive-CTE transitive closure over the same
    # exact pair keyspace (closure is fine at sf0.01; the Spark side runs
    # the O(log n)-round star algorithm instead)
    out["q43_dedup_clusters"] = _CLUSTERS_DUCK
    # q44 — per-day HLL cascade estimates are sparse-mode EXACT at this
    # cardinality, so the oracle is plain count(DISTINCT)
    out["q44_distinct_tiers_hll"] = _DISTINCT_DUCK
    # q45 — closed-form window set; oracle runs the naive BETWEEN join the
    # engine-side bucketed band join exists to avoid
    out["q45_interval_join"] = _INTERVAL_DUCK
    # q46/q47 — integer-quantized inputs make (sum, ssq, count) exact, so
    # the identical IEEE expression tree matches bitwise at floor(*1e6)
    out["q46_rolling_zscore"] = _ZSCORE_DUCK
    out["q47_ewma"] = _EWMA_DUCK
    # q48 — integer-quantized M4 aggregates are exact; ts-ordered
    # first/last are deterministic because (user_id, ts) is unique
    out["q48_m4_downsample"] = _M4_DUCK
    # q49 — identical closed-form interval set + the same running-max
    # island logic, all integers
    out["q49_coalesce_intervals"] = _COALESCE_DUCK
    # q50 — repetition stats recomputed relationally (unnest + group-by);
    # both sides floor(frac*1e6), integer counts exact
    out["q50_repetition_stats"] = _REPETITION_DUCK
    # q51/q52 — identical overflow-safe integer hash arithmetic; q52 adds
    # the same cumulative-sum window
    out["q51_stratified_sample"] = _STRATIFIED_DUCK
    out["q52_pack_sequences"] = _PACK_DUCK
    # q53 — same group-count + deterministic (n desc, token asc) top-100;
    # q54 — same fingerprint min-window + representative-hash arithmetic
    out["q53_vocab_topk"] = _VOCAB_DUCK
    out["q54_leakage_split"] = _LEAKAGE_DUCK
    # q55 — planted-exact-duplicate closed-form keyspace (q40 trick):
    # identical vectors share every k-means cluster deterministically
    out["q55_semantic_dedup"] = _SEMDEDUP_DUCK
    # q56 — same 3-gram shingle join recomputed relationally
    out["q56_decontaminate"] = _DECONTAM_DUCK
    # q57 — identical closed-form PII injection + the same RE2-safe regex
    # subset; masked text hash-compared bytewise
    out["q57_mask_pii"] = _PII_DUCK
    # q58 — identical binding-constraint solve in double arithmetic
    out["q58_mixing_rates"] = _MIXING_DUCK
    # q60 — integer-quantized unigram log-probs; sums exact, ln per the
    # q42 precedent
    out["q60_unigram_logprob"] = _UNIGRAM_DUCK
    # q61 — dominant-spike construction makes the LTTB selection a
    # closed-form keyspace (proof sketch in the query docstring)
    out["q61_lttb_downsample"] = _LTTB_DUCK
    # q62 — same recall-bound fold as q34/q39
    out["q62_ann_pq_topk"] = _ANN_DUCK
    # q63 — DuckDB native ASOF LEFT JOIN + identical tolerance CASE
    out["q63_asof_tolerance"] = _ASOF_TOL_DUCK
    # q64 — relational gaps-and-islands replay of session_window
    out["q64_session_window"] = _SESSION_W_DUCK
    # q65 — q28's quality SQL + the identical integer hash gate
    out["q65_importance_sample"] = _importance_duck()
    # q66 — q60's integer-quantized arithmetic partitioned by lang
    out["q66_unigram_grouped"] = _UNIGRAM_GROUPED_DUCK
    # q69 — the naive global window IS the oracle; the engine's two-pass
    # distributed rank must reproduce it exactly
    out["q69_curriculum_order"] = _curriculum_duck()
    # q71 — exact-count bigram transitions, integer-quantized like q60
    out["q71_bigram_logprob"] = _BIGRAM_DUCK
    return out
