"""The names the benchmark harness (perfbench/) patches, calls or reads.

perfbench wraps engine functions by name to trace each layer, checks
build_tiers' result by table name and reads the catalog through its methods.
A simplification that drops or renames one of them must fail here, in the
test suite, not in a benchmark run.
"""

import ast
import glob
import os
import sys

from olympian_spark import session
from olympian_spark.datagen import gen_transcripts
from olympian_spark.plans.pipeline import QcParams, build_tiers

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
sys.path.insert(0, PERFBENCH)
import checks  # noqa: E402
import spans  # noqa: E402

HANDLES = ("_tagged", "_dims", "_sorted")


def test_engine_layer_targets_resolve(spark):
    targets = spans.engine_layers(spans.Tracer(spark))
    assert targets
    for owner, attr, _ in targets:
        assert callable(getattr(owner, attr, None)), f"{owner!r}.{attr} is gone"


def test_prewarm_hook_exists():
    assert callable(getattr(session, "_prewarm_python_workers", None))


def test_build_tiers_returns_tables_and_handles(spark):
    pdf = gen_transcripts(n_turns=500, n_convs=5, seed=1).to_pandas()
    tiers = build_tiers(spark.createDataFrame(pdf), QcParams(300.0, 1200.0), persist=False)
    try:
        assert set(tiers) == {*checks.ALL_TABLES, *HANDLES}
    finally:
        for k in HANDLES:
            tiers[k].unpersist()


def test_catalog_attributes_perfbench_uses_resolve(spark, tmp_path):
    """Every ``cat.<name>`` in perfbench/*.py names an attribute of a
    ``ParquetManifestCatalog``."""
    from olympian_spark.sources.catalog import ParquetManifestCatalog

    used = set()
    for path in glob.glob(os.path.join(PERFBENCH, "*.py")):
        with open(path) as f:
            for node in ast.walk(ast.parse(f.read(), path)):
                if (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
                        and node.value.id == "cat"):
                    used.add(node.attr)
    assert {"read", "read_where_between", "pruned_partitions", "verify_table"} <= used
    cat = ParquetManifestCatalog(spark, str(tmp_path / "cat"))
    assert [name for name in sorted(used) if not hasattr(cat, name)] == []
