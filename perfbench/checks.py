"""Correctness checks run beside the timed operations (never inside them)."""

from __future__ import annotations

import datetime as dt
import functools
import hashlib
import math
import operator

ALL_TABLES = ("tier_1m", "tier_1h", "tier_1d", "rollup_role_1h", "rollup_tool_1h")


def digests(frames: dict) -> dict:
    """Order-insensitive (row count, sum of row hashes over all columns) of
    each named frame, all in one Spark job."""
    from pyspark.sql import functions as F

    hashed = [df.select(F.lit(name).alias("t"), F.xxhash64(*sorted(df.columns))
                        .cast("decimal(38,0)").alias("h")) for name, df in frames.items()]
    rows = functools.reduce(lambda a, b: a.unionAll(b), hashed).groupBy("t").agg(
        F.count(F.lit(1)), F.sum("h")).collect()
    found = {r[0]: (int(r[1]), str(r[2])) for r in rows}
    return {name: found.get(name, (0, "None")) for name in frames}


def catalog_digests(cat) -> dict:
    return digests({t: cat.read(t) for t in ALL_TABLES})


def reconcile_tiers(cat, expected_turns: int) -> list[str]:
    """Row counts that must agree across layers of a committed catalog."""
    from pyspark.sql import functions as F

    problems = []
    for table in ALL_TABLES:
        v = cat.verify_table(table)
        if not v["ok"]:
            problems.append(f"verify_table({table}): {v['issues'][:3]}")
    t1m, t1h = cat.read("tier_1m"), cat.read("tier_1h")
    total = t1m.agg(F.sum("n_turns")).first()[0]
    if total != expected_turns:
        problems.append(f"sum(tier_1m.n_turns) = {total}, input has {expected_turns} turns")
    sums = ("n_turns", "n_qc_fail", "n_gap_obs", "n_valid_gap", "sum_text_len")
    hour = F.date_trunc("hour", "bucket_start").alias("bucket_start")
    from_1m = t1m.groupBy("conv_id", hour).agg(*[F.sum(c).alias(f"m_{c}") for c in sums])
    joined = from_1m.join(
        t1h.select("conv_id", "bucket_start", *sums), ["conv_id", "bucket_start"], "full_outer"
    )
    differs = functools.reduce(
        operator.or_, [~F.col(f"m_{c}").eqNullSafe(F.col(c)) for c in sums])
    mismatched = joined.filter(differs).count()
    if mismatched:
        problems.append(f"{mismatched} (conv, hour) rows where tier_1h sums != tier_1m sums")
    return problems


# ---- query value hash, as tests/test_entry_contract.py computes it ----------

def _norm_float(v) -> str:
    if math.isnan(v):
        return "nan"
    return f"{v:.6f}".rstrip("0").rstrip(".")


def _norm_datetime(v) -> str:
    if v.tzinfo is not None:
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return str(v)


def _norm_column(values: list) -> list[str]:
    """Each value as text: NULL, lower-case booleans, floats to 6 decimals
    without trailing zeros, datetimes in naive UTC. One type per column, so
    the formatter is chosen once per column, not per value."""
    kind = next((type(v) for v in values if v is not None), str)
    if kind is bool:
        fmt = lambda v: str(v).lower()  # noqa: E731
    elif kind is float:
        fmt = _norm_float
    elif issubclass(kind, dt.datetime):
        fmt = _norm_datetime
    else:
        fmt = str
    return ["NULL" if v is None else fmt(v) for v in values]


def value_hash(cols: list[str], columns: list[list]) -> str:
    """Order-insensitive hash of a result given column by column, columns
    taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    text = [_norm_column(columns[i]) for i in order]
    lines = sorted(map("|".join, zip(*text))) if text else []
    return hashlib.md5("".join(line + "\n" for line in lines).encode()).hexdigest()


def arrow_hash(table) -> tuple[int, str]:
    cols = table.column_names
    return table.num_rows, value_hash(cols, [table.column(c).to_pylist() for c in cols])
