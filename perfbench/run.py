"""Benchmark entry point.

    python3 perfbench/run.py --workload rebuild --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. It generates the workload's inputs
from ``--seed`` (cached under ``.perfbench/``), starts one session process
(``session.py``, one JVM) with pinned deployment settings, samples its
process tree from ``/proc``, and prints
one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
workload's unit untraced and then traced, and reports the per-layer
metrics (see ``layer_map.json``). The full record — settings, host
samples, every operation, spans — goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
from host import HostSampler, start_time  # noqa: E402
from layers import units  # noqa: E402

CORPUS = {"turns": 300_000, "convs": 300}  # the rebuild input (see README.md)
WARMUP_CORPUS = {"turns": 50_000, "convs": 50}  # rebuilt once, untimed, in set-up
READS = 12  # tier reads on the last rebuilt catalog of a run
DRIVER_MEM = "2g"
DEADLINE_S = 170  # every session must end within this many seconds of the start


def settings(root: str, work: str, cores: int) -> dict:
    """Deployment settings passed to every session explicitly."""
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "PYTHONPATH": root,
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata files: HotSpot writes them to /tmp whatever the tmpdir
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }


def oracle(events: str) -> dict:
    """DuckDB results of the benchmarked queries, computed once per seed."""
    path = os.path.join(events, "oracle.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb

    import __spark_entry__ as entry
    import checks
    from workloads import BENCH_QUERIES

    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}/events.parquet')")
    sql = entry.oracle_sql()
    out = {}
    for name in BENCH_QUERIES:
        cur = con.execute(sql[name])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        columns = [list(c) for c in zip(*rows)] if rows else [[] for _ in cols]
        out[name] = {"cols": sorted(c.lower() for c in cols), "rows": len(rows),
                     "hash": checks.value_hash(cols, columns)}
    con.close()
    with open(path, "w") as f:
        json.dump(out, f)
    return out


def run_session(cfg: dict, env: dict, work: str, deadline: float) -> tuple[dict, dict]:
    """Run the session process to completion; returns (result, host summary)."""
    cfg_path = os.path.join(work, "tmp", f"session-{os.getpid()}.json")
    cfg["out"] = cfg_path.replace(".json", ".out.json")
    if os.path.exists(cfg["out"]):
        os.remove(cfg["out"])
    cfg["t_spawn"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    log = open(os.path.join(work, "logs", f"{cfg['workload']}-s{cfg['seed']}.log"), "w")
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "session.py"), cfg_path],
        env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
    )
    sampler = HostSampler(proc.pid)
    try:
        with sampler:
            proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        pass
    finally:
        _stop_group(proc, sampler.seen)
        log.close()
    if proc.returncode != 0 or not os.path.exists(cfg["out"]):
        raise RuntimeError(f"session failed (exit {proc.returncode}); see {log.name}")
    with open(cfg["out"]) as f:
        return json.load(f), sampler.summary()


def _stop_group(proc: subprocess.Popen, seen: dict[int, str]) -> None:
    """Kill what is left of the session (its process group, and every process
    its tree ever held: Spark's Python daemon runs in a group of its own) and
    wait until all of it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()

    def left() -> list[int]:
        return [pid for pid, t in seen.items() if t is not None and start_time(pid) == t]

    for pid in left():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for _ in range(100):
        if not left():
            return
        time.sleep(0.1)


def end_to_end(result: dict, host: dict) -> dict:
    timed = [o for o in result["ops"] if "wall_s" in o]
    pipeline = [o for o in timed if o["kind"] == "pipeline"]
    values = {
        "setup_s": result["setup_s"],
        "pipeline_turns_per_s": statistics.median(o["turns"] / o["wall_s"] for o in pipeline),
        "pipeline_cpu_s": statistics.median(o["cpu_s"] for o in pipeline),
        "lookup_s_mean": statistics.mean(o["wall_s"] for o in timed if o["kind"] == "lookup"),
        "peak_pss_mb": host["peak_pss_mb"],
    }
    return {k: {"value": values[k], "unit": u} for k, u in units("end_to_end").items()}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("rebuild", "small_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops its session's process group (run_session's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.path.dirname(HERE)
    if not os.path.isfile(os.path.join(root, "olympian_spark", "plans", "refresh.py")):
        print(f"perfbench: no olympian_spark source tree next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench")
    for sub in ("tmp", "logs", "results", "spark-local", "inputs"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    pinned = settings(root, work, cores)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")} | pinned

    base_cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "root": root, "work": work, "tmp": pinned["TMPDIR"],
    }
    if args.workload == "small_queries":
        events = corpus.events_dir(work, args.seed)
        base_cfg |= {"events": events, "events_meta": _meta(events), "oracle": oracle(events)}
    else:
        path = corpus.corpus_dir(work, args.seed, CORPUS["turns"], CORPUS["convs"])
        warm = corpus.corpus_dir(work, args.seed, WARMUP_CORPUS["turns"], WARMUP_CORPUS["convs"])
        base_cfg |= {"corpus": path, "corpus_meta": _meta(path),
                     "warmup_corpus": warm, "warmup_corpus_meta": _meta(warm),
                     "reads": READS}

    result, host = run_session(base_cfg | {"cores": cores}, env, work, t_start + DEADLINE_S)
    ops = result["ops"]
    failed = sum(not o["ok"] for o in ops)
    if args.trace:
        metrics = {k: {"value": result["per_layer"][k], "unit": u}
                   for k, u in units("per_layer").items()}
        _print_layer_table(result)
    else:
        metrics = end_to_end(result, host)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "settings": pinned, "cores": cores,
        "inputs": base_cfg.get("corpus_meta") or base_cfg.get("events_meta"),
        "host": host, "session": result, "metrics": metrics,
        "wall_s": time.time() - t_start,
    }
    out = os.path.join(work, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for o in ops:
        if not o["ok"]:
            print(f"perfbench: failed {o['name']}: {o.get('problems') or o.get('error')}",
                  file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))
    return 0


def _meta(path: str) -> dict:
    with open(os.path.join(path, "_meta.json")) as f:
        return json.load(f)


def _print_layer_table(result: dict) -> None:
    print("| span | calls | wall s | self s | jobs | task s |", file=sys.stderr)
    print("|---|---|---|---|---|---|", file=sys.stderr)
    for r in result["span_table"]:
        print(f"| {r['span']} | {r['calls']} | {r['wall_s']:.3f} | {r['self_s']:.3f} "
              f"| {r['jobs']} | {r['task_s']:.2f} |", file=sys.stderr)
    print(f"untraced unit {result['untraced_unit_s']:.2f} s, traced unit "
          f"{result['traced_unit_s']:.2f} s", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
