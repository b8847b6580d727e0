"""One benchmark session: one process, one JVM at ``local[cores]``.

    python3 perfbench/session.py <config.json>

``run.py`` starts this process, samples it from ``/proc`` and reads the
result file named in the config. Set-up is timed from the moment the parent
spawned this process until the session is ready: interpreter start, JVM
launch, ``get_spark``'s Python-worker prewarm and the workload's warm-up.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])  # olympian_spark and __spark_entry__

    import layers
    import workloads
    from olympian_spark import session as session_mod

    prewarm: list[float] = []
    prewarm_fn = session_mod._prewarm_python_workers

    def timed_prewarm(spark):
        t0 = time.perf_counter()
        prewarm_fn(spark)
        prewarm.append(time.perf_counter() - t0)

    session_mod._prewarm_python_workers = timed_prewarm
    t0 = time.perf_counter()
    spark = session_mod.get_spark(
        app_name=f"perfbench-{cfg['workload']}", cores=cfg["cores"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={cfg['tmp']}",
            "spark.sql.warehouse.dir": os.path.join(cfg["work"], "warehouse"),
        },
    )
    get_spark_s = time.perf_counter() - t0
    session_mod._prewarm_python_workers = prewarm_fn
    ctx = workloads.Ctx(cfg, spark)
    ctx.result = {
        "cores": cfg["cores"],
        "session": {"jvm_start_s": get_spark_s - sum(prewarm), "prewarm_s": sum(prewarm)},
    }
    try:
        getattr(workloads, f"setup_{cfg['workload']}")(ctx)
        for op in ctx.ops:
            op["kind"] = "warmup"
        ctx.result["setup_s"] = time.time() - cfg["t_spawn"]
        ctx.result["session"]["warm_up_s"] = time.perf_counter() - t0 - get_spark_s

        getattr(workloads, f"run_{cfg['workload']}")(ctx)

        if ctx.tracer is not None:
            ctx.result["per_layer"] = layers.derive(ctx.tracer, ctx.result)
            ctx.result["span_table"] = ctx.tracer.table()
            ctx.result["spans"] = ctx.tracer.spans
        ctx.result["ops"] = ctx.ops
        ctx.result["check_s"] = ctx.check_s
    finally:
        spark.stop()
        shutil.rmtree(ctx.scratch, ignore_errors=True)
    with open(cfg["out"], "w") as f:
        json.dump(ctx.result, f, default=str)


if __name__ == "__main__":
    main()
