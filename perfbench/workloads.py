"""The two workloads, as run inside one benchmark session (one JVM).

Every timed operation goes through :meth:`Ctx.op`, which times it, runs its
correctness check outside the timed region and records the outcome. Each
workload also has a fixed *unit* of work that the traced run executes
twice — untraced, then traced — so tracing overhead is measured on
identical work.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import os
import random
import shutil
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import checks
from host import tree_cpu_s

EPOCH = 1704067200
MIN_PIPELINE_OPS = 2  # a run's pipeline metrics are medians over at least this many
DIP = {"dip_high": 60.0, "dip_max": 1800.0}  # the QC thresholds bench.py uses
BENCH_QUERIES = (
    "q03_step_flags",
    "q06_spine_gapfill_hourly",
    "q07_locf_hourly",
    "q08_rollup_1m",
    "q09_rollup_1h_from_1m_partials",
    "q13_qc_filtered_rollup_1h",
    "q15_top_gaps",
    "q16_sessionize",
    "q19_salted_agg_equivalence",
    "q24_gorilla_roundtrip",
)


class Ctx:
    """Session-wide state: config, Spark, the optional tracer, recorded ops."""

    def __init__(self, cfg: dict, spark):
        self.cfg = cfg
        self.spark = spark
        self.tracer = None
        self.ops: list[dict] = []
        self.result: dict = {}
        self.timed_s = 0.0  # summed wall of the timed operations so far
        self.check_s = 0.0  # summed wall of their correctness checks
        self.digests: dict = {}  # first-seen outputs later ops must reproduce
        self.scratch = os.path.join(cfg["work"], "scratch", f"{os.getpid()}")
        os.makedirs(self.scratch, exist_ok=True)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({"attrs": attrs})
        return self.tracer.span(name, **attrs)

    def op(self, kind: str, name: str, fn, check=None, **info) -> None:
        """Run one timed operation; ``check(result)`` returns a list of problems."""
        rec = {"kind": kind, "name": name, **info, "ok": False}
        try:
            with self.span(f"op.{kind}", op=name):
                cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
                result = fn()
                rec["wall_s"] = time.perf_counter() - t0
                rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            self.timed_s += rec["wall_s"]
            t0 = time.perf_counter()
            problems = check(result) if check else []
            self.check_s += time.perf_counter() - t0
            rec["ok"] = not problems
            if problems:
                rec["problems"] = problems[:5]
        except Exception:  # one failed op must not end the run
            rec["error"] = traceback.format_exc(limit=4)
        self.ops.append(rec)

    def more(self) -> bool:
        """True until the timed operations sum to ``seconds`` and at least
        MIN_PIPELINE_OPS pipeline operations ran (set-up ops are not timed)."""
        pipelines = sum(o["kind"] == "pipeline" for o in self.ops)
        return self.timed_s < self.cfg["seconds"] or pipelines < MIN_PIPELINE_OPS

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.scratch, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


def _ts(seconds: float) -> dt.datetime:
    return dt.datetime.fromtimestamp(seconds, dt.timezone.utc).replace(tzinfo=None)


# ---- tier reads ------------------------------------------------------------

def read_plan(seed: int, meta: dict, n: int) -> list[dict]:
    """Seeded reads over the corpus days: the last one is one of the ten
    largest conversations' tier_1h day with its Gorilla blocks decoded, the
    rest are ``read_where_between`` windows on tier_1m and tier_1h in turn,
    1 to 6 h long in turn. Only where each read falls is drawn from the
    seed, so every seed reads the same mix."""
    rng = random.Random(seed)
    days = meta["days"]
    t0 = EPOCH + (dt.date.fromisoformat(meta["first_day"]) - dt.date(2024, 1, 1)).days * 86400
    plan = []
    for i in range(n - 1):
        hours = 1 + (i // 2) % 6
        lo = t0 + rng.uniform(0, days * 86400 - hours * 3600)
        plan.append({"table": ("tier_1m", "tier_1h")[i % 2], "lo": lo,
                     "hi": lo + hours * 3600, "conv": None})
    day = rng.randrange(days)
    plan.append({"table": "tier_1h", "lo": t0 + day * 86400, "hi": t0 + day * 86400 + 86399,
                 "conv": rng.choice(meta["largest_conversations"])})
    return plan


def tier_read(ctx: Ctx, cat, r: dict):
    """One user read: a time-range read, or one conversation-day decoded."""
    from pyspark.sql import functions as F

    from olympian_spark.functions import gorilla

    lo, hi = _ts(r["lo"]), _ts(r["hi"])
    with ctx.span("catalog.read_where_between", table=r["table"]) as sp:
        df = cat.read_where_between(r["table"], "bucket_start", lo, hi)
        if r["conv"] is not None:
            df = df.filter(F.col("conv_id") == r["conv"])
        table = df.toArrow()
    sp["attrs"]["rows_returned"] = table.num_rows
    if ctx.tracer is not None:
        live = cat.pruned_partitions(r["table"], "bucket_start", lo, hi)
        sp["attrs"]["partitions"] = len(live)
        sp["attrs"]["rows_scanned"] = sum(rec["rows"] for rec in live.values())
    if r["conv"] is None:
        return table
    points = 0
    with ctx.span("gorilla.decode_block") as sp:
        for block in table.column("block").to_pylist():
            ts, _ = gorilla.decode_block(block)
            points += len(ts)
    sp["attrs"]["points"] = points
    return table


def check_read(ctx: Ctx, cat, r: dict, table) -> list[str]:
    """The same filter over the full snapshot read must give the same rows."""
    from pyspark.sql import functions as F

    df = cat.read(r["table"]).filter(F.col("bucket_start").between(_ts(r["lo"]), _ts(r["hi"])))
    if r["conv"] is not None:
        df = df.filter(F.col("conv_id") == r["conv"])
    got, want = checks.arrow_hash(table), checks.arrow_hash(df.toArrow())
    return [] if got == want else [f"read {r}: {got} != full-scan {want}"]


def reads(ctx: Ctx, cat, plan: list[dict]):
    """Run the reads of ``plan``, checking the first window read and the
    conversation-day read."""
    for i, r in enumerate(plan):
        checked = i in (0, len(plan) - 1)
        checker = (lambda t, r=r: check_read(ctx, cat, r, t)) if checked else None
        ctx.op("lookup", "tier_read", lambda r=r: tier_read(ctx, cat, r), checker)


# ---- pipeline operations ---------------------------------------------------

def transcripts(ctx: Ctx, path: str):
    from olympian_spark.sources import transcripts as src

    with ctx.span("transcripts.read_transcripts") as sp:
        df = src.read_transcripts(ctx.spark, path)
        if ctx.tracer is not None:
            df = ctx.tracer.materialize(df, sp)
    return df


def full_refresh(ctx: Ctx, cat, df, watermark: str):
    from olympian_spark.plans import pipeline, refresh

    with ctx.span("refresh.refresh_tiers", watermark=watermark):
        return refresh.refresh_tiers(
            ctx.spark, cat, df, watermark=watermark, since_watermark=None,
            params=pipeline.QcParams(**DIP),
        )


def catalog(ctx: Ctx, root: str):
    from olympian_spark.sources.catalog import ParquetManifestCatalog

    return ParquetManifestCatalog(ctx.spark, root)


# ---- rebuild -----------------------------------------------------------------

def rebuild_once(ctx: Ctx, i: int, warm_up: bool = False):
    """Full refresh_tiers of the corpus (the small warm-up corpus when
    ``warm_up``) into an empty catalog; returns the catalog."""
    cfg = ctx.cfg
    key = "warmup_corpus" if warm_up else "corpus"
    meta = cfg[f"{key}_meta"]
    cat = catalog(ctx, ctx.fresh_dir(f"rebuild-{i}"))
    df = transcripts(ctx, cfg[key])

    def check(_):
        # The first timed rebuild is reconciled and records its digests; a
        # later rebuild with the same digests has the same tables, so it
        # inherits that outcome instead of repeating the reconciliation.
        digests = checks.catalog_digests(cat)
        if "rebuild" not in ctx.digests:
            ctx.digests["rebuild"] = (digests, checks.reconcile_tiers(cat, meta["turns"]))
        first, problems = ctx.digests["rebuild"]
        if digests != first:
            return problems + ["tier digests differ from this session's first rebuild"]
        return problems

    ctx.op("pipeline", "rebuild", lambda: full_refresh(ctx, cat, df, f"rebuild-{i}"),
           None if warm_up else check, turns=meta["turns"])
    return cat


def rebuilds_then_reads(ctx: Ctx, n_reads: int, once: bool, warm_up: bool = False) -> None:
    """Rebuilds until :meth:`Ctx.more` says stop (just one when ``once``),
    then ``n_reads`` tier reads on the last rebuilt catalog."""
    cat, i = None, 0
    while cat is None or (not once and ctx.more()):
        if cat is not None:
            shutil.rmtree(cat.root, ignore_errors=True)
        i += 1
        cat = rebuild_once(ctx, i, warm_up)
    meta = ctx.cfg["warmup_corpus_meta" if warm_up else "corpus_meta"]
    reads(ctx, cat, read_plan(ctx.cfg["seed"], meta, n_reads))
    if ctx.tracer is not None:
        ctx.tracer.release()
    shutil.rmtree(cat.root, ignore_errors=True)


def setup_rebuild(ctx: Ctx) -> None:
    """Warm-up: one full rebuild of the small warm-up corpus and two reads."""
    rebuilds_then_reads(ctx, 2, once=True, warm_up=True)


def run_rebuild(ctx: Ctx) -> None:
    n_reads = ctx.cfg["reads"]
    if ctx.cfg["trace"]:
        traced_unit(ctx, lambda: rebuilds_then_reads(ctx, n_reads, once=True))
        return
    ctx.timed_s = 0.0
    rebuilds_then_reads(ctx, n_reads, once=False)


# ---- small_queries -----------------------------------------------------------

def run_query(ctx: Ctx, qs: dict, name: str) -> None:
    ctx.op(
        "lookup", name,
        lambda: qs[name](ctx.spark, ctx.cfg["events"]).toArrow(),
        lambda t: _check_query(ctx, name, t),
    )


def _check_query(ctx: Ctx, name: str, table) -> list[str]:
    want = ctx.cfg["oracle"][name]
    rows, h = checks.arrow_hash(table)
    if sorted(c.lower() for c in table.column_names) != sorted(want["cols"]):
        return [f"{name}: columns {table.column_names} != oracle {want['cols']}"]
    if (rows, h) != (want["rows"], want["hash"]):
        return [f"{name}: {rows} rows / {h} != oracle {want['rows']} rows / {want['hash']}"]
    return []


def small_pipeline(ctx: Ctx):
    """sf0.1 build_tiers over the events-derived transcripts, every tier counted."""
    from olympian_spark.plans import pipeline
    from olympian_spark.sources import transcripts as src

    with ctx.span("transcripts.transcripts_from_events") as sp:
        t = src.transcripts_from_events(ctx.spark, ctx.cfg["events"])
        if ctx.tracer is not None:
            t = ctx.tracer.materialize(t, sp)
    tiers = pipeline.build_tiers(t, pipeline.QcParams(**DIP), persist=True)
    for k in checks.ALL_TABLES:
        tiers[k].count()
    return tiers


def _release(tiers: dict) -> None:
    for name in ("_tagged", "_dims", "_sorted"):
        tiers[name].unpersist()


def run_small_pipeline(ctx: Ctx) -> None:
    expected = ctx.cfg["events_meta"]["events"]

    def check(tiers):
        from pyspark.sql import functions as F

        problems = []
        total = tiers["tier_1m"].agg(F.sum("n_turns")).first()[0]
        if total != expected:
            problems.append(f"sum(tier_1m.n_turns) = {total}, events has {expected}")
        # every column of every tier must equal the warm-up pipeline's
        digests = checks.digests({k: tiers[k] for k in checks.ALL_TABLES})
        if digests != ctx.digests["pipeline"]:
            problems.append(f"tier digests {digests} != warm-up {ctx.digests['pipeline']}")
        _release(tiers)
        return problems

    ctx.op("pipeline", "sf0.1_build_tiers", lambda: small_pipeline(ctx), check, turns=expected)


def run_small_queries(ctx: Ctx) -> None:
    import __spark_entry__ as entry

    cfg = ctx.cfg
    qs = entry.queries()

    def one_pass(order):
        run_small_pipeline(ctx)
        for name in order:
            run_query(ctx, qs, name)
        if ctx.tracer is not None:
            ctx.tracer.release()

    if cfg["trace"]:
        traced_unit(ctx, lambda: one_pass(BENCH_QUERIES))
        return
    # Pipeline operations back to back after the warm-up's pipeline (one that
    # followed the queries ran up to 40% slower), then every query once in a
    # seeded order, then more pipeline operations if ``seconds`` is not spent.
    ctx.timed_s = 0.0
    for _ in range(MIN_PIPELINE_OPS):
        run_small_pipeline(ctx)
    for name in random.Random(cfg["seed"]).sample(BENCH_QUERIES, len(BENCH_QUERIES)):
        run_query(ctx, qs, name)
    while ctx.more():
        run_small_pipeline(ctx)


def setup_small_queries(ctx: Ctx) -> None:
    """Warm-up pass: every query once and the pipeline once, whose tier
    digests every later pipeline operation must reproduce."""
    import __spark_entry__ as entry

    qs = entry.queries()

    def run(name):
        return qs[name](ctx.spark, ctx.cfg["events"]).toArrow()

    # the first query registers the views; the cold rest run on nproc threads
    run(BENCH_QUERIES[0])
    with ThreadPoolExecutor(max_workers=ctx.cfg["cores"]) as pool:
        list(pool.map(run, BENCH_QUERIES[1:]))
    tiers = small_pipeline(ctx)
    ctx.digests["pipeline"] = checks.digests({k: tiers[k] for k in checks.ALL_TABLES})
    _release(tiers)


# ---- traced unit -------------------------------------------------------------

def traced_unit(ctx: Ctx, unit) -> None:
    """Run ``unit`` untraced, then again under spans and layer wrappers.

    Each unit's time excludes its correctness checks.
    """
    from spans import Tracer, engine_layers, patched

    def timed() -> float:
        check0, t0 = ctx.check_s, time.perf_counter()
        unit()
        return time.perf_counter() - t0 - (ctx.check_s - check0)

    ctx.result["untraced_unit_s"] = timed()
    ctx.tracer = Tracer(ctx.spark)
    with patched(engine_layers(ctx.tracer)):
        ctx.result["traced_unit_s"] = timed()
    ctx.tracer.attribute()
