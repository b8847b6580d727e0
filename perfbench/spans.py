"""Spans around the calls into each engine layer, with Spark stage metrics.

A span records name, start, end and its parent. While a span is open, its
id is the Spark job group of every job the driver thread submits, so after
the traced work ends each job — and each stage the job ran — belongs to
the innermost span that was open when it was submitted. Stage metrics come
from the driver's in-process status store through py4j.

Spark is lazy: a layer function returns a plan, and its work runs when a
later layer consumes it. In traced mode the wrappers below therefore
persist and materialize each layer's output inside the layer's own span.
That changes the execution (the traced run is slower, which it reports as
its overhead) but keeps each span's stages to its own layer's work.

Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time

GROUP_PREFIX = "pb-span-"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace_persisted: list = []  # frames persisted only for tracing

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(f"{GROUP_PREFIX}{top['id']}", top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # ---- storage and plan probes -------------------------------------------
    def storage_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def materialize(self, df, span: dict):
        """Persist ``df`` and compute it inside the current span."""
        before = self.storage_mb()
        df = df.persist()
        span["attrs"]["rows_out"] = df.count()
        span["attrs"]["trace_persisted_mb"] = self.storage_mb() - before
        self._trace_persisted.append(df)
        return df

    def release(self) -> None:
        for df in self._trace_persisted:
            df.unpersist()
        self._trace_persisted.clear()

    # ---- stage attribution -------------------------------------------------
    def attribute(self) -> None:
        """Attach Spark job/stage/task metrics to every span (own jobs only)."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        quant = self.sc._gateway.new_array(jvm.double, 3)
        quant[0], quant[1], quant[2] = 0.0, 0.5, 1.0
        per_span: dict[int, dict] = {}
        seen: set[int] = set()
        it = store.jobsList(None).iterator()
        while it.hasNext():
            job = it.next()
            group = job.jobGroup()
            if not group.isDefined() or not group.get().startswith(GROUP_PREFIX):
                continue
            m = per_span.setdefault(int(group.get()[len(GROUP_PREFIX):]), _zero())
            m["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_id = ids.apply(k)
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    st = store.lastStageAttempt(stage_id)
                except Exception:  # py4j surfaces the JVM NoSuchElementException
                    continue
                if st.status().toString() not in ("COMPLETE", "FAILED"):
                    continue  # skipped stages did no work
                m["stages"] += 1
                m["tasks"] += st.numTasks()
                m["task_s"] += st.executorRunTime() / 1e3
                m["cpu_s"] += st.executorCpuTime() / 1e9
                m["gc_s"] += st.jvmGcTime() / 1e3
                m["shuffle_read_mb"] += st.shuffleReadBytes() / 1e6
                m["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                m["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
                m["shuffle_stages"] += st.shuffleWriteBytes() > 0
                summary = store.taskSummary(stage_id, st.attemptId(), quant)
                if summary.isDefined() and st.executorRunTime() > m["_skew_base"]:
                    run = summary.get().executorRunTime()
                    med, top = run.apply(1), run.apply(2)
                    m["_skew_base"] = st.executorRunTime()
                    m["task_skew"] = top / med if med > 0 else 1.0
        for sid, m in per_span.items():
            m.pop("_skew_base")
            self.spans[sid]["spark"] = m

    # ---- derived views -----------------------------------------------------
    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree_spark(self, span: dict) -> dict:
        """Spark metrics of ``span`` plus all its descendants."""
        total = _zero()
        total.pop("_skew_base")
        todo = [span["id"]]
        while todo:
            s = self.spans[todo.pop()]
            if s["name"].startswith("trace."):
                continue  # the tracer's own bookkeeping jobs
            for k, v in s.get("spark", {}).items():
                if k != "task_skew":
                    total[k] += v
            todo.extend(c["id"] for c in self.spans if c["parent"] == s["id"])
        return total

    def table(self) -> list[dict]:
        """One row per span name: calls, wall, self time (wall minus children)."""
        rows: dict[str, dict] = {}
        for s in self.spans:
            wall = s["end"] - s["start"]
            child = sum(c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"])
            r = rows.setdefault(s["name"], {"span": s["name"], "calls": 0, "wall_s": 0.0,
                                            "self_s": 0.0, "jobs": 0, "task_s": 0.0})
            r["calls"] += 1
            r["wall_s"] += wall
            r["self_s"] += wall - child
            r["jobs"] += s.get("spark", {}).get("jobs", 0)
            r["task_s"] += s.get("spark", {}).get("task_s", 0.0)
        return list(rows.values())


def _zero() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "shuffle_stages": 0, "task_skew": 1.0, "_skew_base": -1}


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, object]]):
    """Temporarily replace ``owner.attr`` with ``make(original)`` for each target."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, make in targets:
            setattr(owner, attr, make(getattr(owner, attr)))
        yield
    finally:
        for owner, attr, orig in saved:
            setattr(owner, attr, orig)


def engine_layers(tracer: Tracer) -> list[tuple[object, str, object]]:
    """``patched`` targets that put every engine layer call under its own span.

    Each target is the binding its caller looks up at call time: the names
    ``plans.pipeline`` and ``plans.refresh`` imported, and the catalog's
    write method.
    """
    from pyspark.sql import functions as F

    from olympian_spark.plans import pipeline, refresh
    from olympian_spark.sources.catalog import ParquetManifestCatalog

    def qc_series(fn):
        @functools.wraps(fn)
        def run(df, *a, **kw):
            with tracer.span("qc_series.with_gap_and_dip_parallel") as sp:
                before = tracer.storage_mb()
                slim, sorted_handle = fn(df, *a, **kw)
                sp["attrs"]["persisted_mb"] = tracer.storage_mb() - before
                slim = tracer.materialize(slim, sp)
            with tracer.span("trace.bookkeeping"):
                sizes = sorted_handle.groupBy(F.spark_partition_id()).count().collect()
            # the edge pass collects the first and last two rows of each partition
            sp["attrs"]["edge_rows_collected"] = sum(2 * min(2, r[1]) for r in sizes)
            return slim, sorted_handle
        return run

    def rollup(name):
        def make(fn):
            @functools.wraps(fn)
            def run(df, *a, **kw):
                with tracer.span(name) as sp:
                    out = tracer.materialize(fn(df, *a, **kw), sp)
                if "_grain" in out.columns:
                    with tracer.span("trace.bookkeeping"):
                        grains = out.groupBy("_grain").count().collect()
                    sp["attrs"]["rows_by_grain"] = {int(r[0]): int(r[1]) for r in grains}
                return out
            return run
        return make

    def build_tiers(fn):
        @functools.wraps(fn)
        def run(df, *a, **kw):
            with tracer.span("trace.bookkeeping"):
                fed = df.agg(F.count(F.lit(1)), F.countDistinct("conv_id")).first()
            with tracer.span("pipeline.build_tiers", turns_in=int(fed[0]),
                             convs_in=int(fed[1])) as sp:
                before = tracer.storage_mb()
                tiers = fn(df, *a, **kw)
                trace_only = sum(s["attrs"].get("trace_persisted_mb", 0.0)
                                 for s in tracer.spans[sp["id"] + 1:]
                                 if s["name"].startswith("qc_series"))
                sp["attrs"]["persisted_mb"] = tracer.storage_mb() - before - trace_only
            return tiers
        return run

    def affected_days(fn):
        @functools.wraps(fn)
        def run(*a, **kw):
            with tracer.span("refresh.affected_days"):
                return fn(*a, **kw)
        return run

    def overwrite_partitions(fn):
        @functools.wraps(fn)
        def run(cat, table, df, *a, **kw):
            with tracer.span("catalog.overwrite_partitions", table=table) as sp:
                snap = fn(cat, table, df, *a, **kw)
            sdir = cat._snap_dir(table, snap["snapshot_id"])
            sp["attrs"]["files_written"] = sum(
                f.endswith(".parquet") for _, _, files in os.walk(sdir) for f in files
            )
            sp["attrs"]["bytes_written"] = sum(r["bytes"] for r in snap["partitions"].values())
            sp["attrs"]["manifest_bytes"] = os.path.getsize(cat._manifest_path(table))
            return snap
        return run

    return [
        (pipeline, "with_gap_and_dip_parallel", qc_series),
        (pipeline, "rollup_tiers_fused", rollup("rollup.rollup_tiers_fused")),
        (pipeline, "rollup_dims_fused", rollup("rollup.rollup_dims_fused")),
        (pipeline, "build_tiers", build_tiers),
        (refresh, "build_tiers", build_tiers),
        (refresh, "affected_days", affected_days),
        (ParquetManifestCatalog, "overwrite_partitions", overwrite_partitions),
    ]
