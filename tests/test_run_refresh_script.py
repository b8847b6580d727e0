"""The spark-submit refresh job (``scripts/run_refresh.py``), run as its own
process on a plain ``SparkSession``: it commits every table, and every
committed partition carries ``bucket_start`` bounds, so time-range reads of
a catalog it built prune partitions."""

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq

from olympian_spark.datagen import gen_transcripts
from olympian_spark.plans.refresh import DIM_TABLES, TIER_TABLES
from olympian_spark.sources.catalog import ParquetManifestCatalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_script_commits_bounds_on_every_partition(spark, tmp_path):
    src = tmp_path / "transcripts"
    src.mkdir()
    pq.write_table(gen_transcripts(n_turns=3_000, n_convs=10, seed=1), src / "part-0.parquet")
    store = tmp_path / "store"
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS="--master local[2] --driver-memory 1g"
        " --conf spark.sql.shuffle.partitions=4 pyspark-shell",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "run_refresh.py"),
         "--input", str(src), "--store", str(store), "--watermark", "wm1"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    tables = (*TIER_TABLES, *DIM_TABLES)
    summary = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(summary) == set(tables)

    cat = ParquetManifestCatalog(spark, str(store))
    for table in tables:
        live = cat.committed_partitions(table)
        assert live, table
        unbounded = sorted(p for p, rec in live.items() if "bucket_start" not in rec.get("stats", {}))
        assert unbounded == [], f"{table}: no bucket_start bounds on {unbounded}"
