"""Per-layer metrics from the spans of one traced unit.

Every per-layer name in ``BENCHMARK.json`` is reported by every traced run;
a layer a workload does not exercise reports 0 (small_queries never commits
to the catalog, rebuild runs no driver query).
"""

from __future__ import annotations

import json
import os
import statistics

from workloads import BENCH_QUERIES

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def units(section: str) -> dict[str, str]:
    """Metric name -> unit for ``section`` ("end_to_end" or "per_layer") of
    ``BENCHMARK.json``, the one place the metrics are declared."""
    with open(SPEC) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def _wall(s: dict) -> float:
    return s["end"] - s["start"]


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def derive(tracer, result: dict) -> dict:
    """Per-layer metric values from the traced unit's spans."""
    spans = tracer.by_name
    out = dict.fromkeys(units("per_layer"), 0.0)
    out["session.jvm_start_s"] = result["session"]["jvm_start_s"]
    out["session.prewarm_s"] = result["session"]["prewarm_s"]

    def spark(s: dict) -> dict:
        return s.get("spark", {})

    def own_total(name: str, key: str) -> float:
        return sum(spark(s).get(key, 0.0) for s in spans(name))

    scans = spans("transcripts.read_transcripts") + spans("transcripts.transcripts_from_events")
    out["transcripts.scan_s"] = sum(map(_wall, scans))
    out["transcripts.rows_in"] = sum(s["attrs"].get("rows_out", 0) for s in scans)

    qc = spans("qc_series.with_gap_and_dip_parallel")
    out["qc_series.wall_s"] = sum(map(_wall, qc))
    for key in ("task_s", "cpu_s", "shuffle_write_mb"):
        out[f"qc_series.{key}"] = own_total("qc_series.with_gap_and_dip_parallel", key)
    out["qc_series.persisted_mb"] = sum(s["attrs"].get("persisted_mb", 0.0) for s in qc)
    out["qc_series.edge_rows_collected"] = sum(s["attrs"].get("edge_rows_collected", 0) for s in qc)
    out["qc_series.task_skew"] = max((spark(s).get("task_skew", 0.0) for s in qc), default=0.0)

    tiers = spans("rollup.rollup_tiers_fused")
    out["rollup.tiers_wall_s"] = sum(map(_wall, tiers))
    for key in ("task_s", "cpu_s", "gc_s", "shuffle_read_mb", "spill_mb"):
        out[f"rollup.{key}"] = own_total("rollup.rollup_tiers_fused", key)
    for grain, label in ((0, "1m"), (1, "1h"), (2, "1d")):
        out[f"rollup.rows_out_{label}"] = sum(
            s["attrs"].get("rows_by_grain", {}).get(grain, 0) for s in tiers)
    out["rollup.task_skew"] = max((spark(s).get("task_skew", 0.0) for s in tiers), default=0.0)
    out["rollup.dims_wall_s"] = sum(map(_wall, spans("rollup.rollup_dims_fused")))

    builds = spans("pipeline.build_tiers")
    out["pipeline.persisted_mb"] = sum(s["attrs"].get("persisted_mb", 0.0) for s in builds)
    # shuffles executed on the way to tier_1m: stage 1's range exchange and
    # the tier kernel's (conv, day) exchange, today
    out["pipeline.exchanges"] = sum(
        spark(s).get("shuffle_stages", 0) for s in qc + tiers)
    out["pipeline.jobs"] = sum(tracer.subtree_spark(s)["jobs"] for s in builds)

    refreshes = spans("refresh.refresh_tiers")
    out["refresh.affected_days_s"] = sum(map(_wall, spans("refresh.affected_days")))
    out["refresh.affected_convs"] = sum(
        b["attrs"]["convs_in"] for b in builds if _ancestor(tracer, b, "refresh.refresh_tiers"))
    out["refresh.jobs"] = sum(tracer.subtree_spark(s)["jobs"] for s in refreshes)

    writes = spans("catalog.overwrite_partitions")
    out["catalog.write_s"] = sum(map(_wall, writes))
    out["catalog.files_written"] = sum(s["attrs"]["files_written"] for s in writes)
    out["catalog.bytes_written_mb"] = sum(s["attrs"]["bytes_written"] for s in writes) / 1e6
    last_manifest = {s["attrs"]["table"]: s["attrs"]["manifest_bytes"] for s in writes}
    out["catalog.manifest_kb"] = sum(last_manifest.values()) / 1e3

    reads = spans("catalog.read_where_between")
    out["catalog.read_s"] = _median([_wall(s) for s in reads])
    out["catalog.partitions_scanned"] = _median([s["attrs"]["partitions"] for s in reads])
    returned = sum(s["attrs"]["rows_returned"] for s in reads)
    scanned = sum(s["attrs"]["rows_scanned"] for s in reads)
    out["catalog.rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0

    decodes = spans("gorilla.decode_block")
    decode_s = sum(map(_wall, decodes))
    points = sum(s["attrs"]["points"] for s in decodes)
    out["gorilla.decode_points_per_s"] = points / decode_s if decode_s else 0.0

    op_spans = spans("op.lookup") + spans("op.pipeline")
    for s in op_spans:
        if s["attrs"]["op"] in BENCH_QUERIES:
            out[f"entry.{s['attrs']['op']}_s"] = _wall(s)
    if op_spans:
        totals = [tracer.subtree_spark(s) for s in op_spans]
        for key in ("jobs", "stages", "tasks"):
            out[f"spark.{key}_per_op"] = sum(t[key] for t in totals) / len(totals)

    out["trace.untraced_unit_s"] = result["untraced_unit_s"]
    out["trace.overhead_s"] = result["traced_unit_s"] - result["untraced_unit_s"]
    return out


def _ancestor(tracer, span: dict, name: str) -> bool:
    parent = span["parent"]
    while parent is not None:
        if tracer.spans[parent]["name"] == name:
            return True
        parent = tracer.spans[parent]["parent"]
    return False
