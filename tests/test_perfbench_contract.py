"""The names the benchmark harness (perfbench/) patches or reads.

perfbench wraps engine functions by name to trace each layer and checks
build_tiers' result by table name. A simplification that drops or renames
one of them must fail here, in the test suite, not in a benchmark run.
"""

import os
import sys

from olympian_spark import session
from olympian_spark.datagen import gen_transcripts
from olympian_spark.plans.pipeline import QcParams, build_tiers

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
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
