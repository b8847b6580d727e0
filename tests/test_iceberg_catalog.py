"""IcebergCatalog integration contract — skip-gated on the Iceberg runtime.

This sandbox has no network and no iceberg-spark-runtime jar (verified
round 1), so these tests SKIP cleanly here. On a machine with the jar,
run them standalone (they need their own SparkSession — extensions must be
set before the first session in the process):

    SPARK_GRAFT_ICEBERG_JAR=/path/to/iceberg-spark-runtime-4.0_2.13.jar \
        python -m pytest tests/test_iceberg_catalog.py -x -q

The session needs the four settings in the `iceberg_spark` fixture below
(README "Production storage" section): the jar, the extension, a catalog
impl and a warehouse path. `IcebergCatalog` covers only part of the
`ParquetManifestCatalog` surface; `refresh_tiers` cannot run on it (see its
docstring).
"""

import os

import pytest

_JAR = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")

pytestmark = pytest.mark.skipif(
    not _JAR or not os.path.exists(_JAR),
    reason="iceberg-spark-runtime jar not available "
    "(set SPARK_GRAFT_ICEBERG_JAR=/path/to/jar to run)",
)


@pytest.fixture(scope="module")
def iceberg_spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    wh = str(tmp_path_factory.mktemp("iceberg_wh"))
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.jars", _JAR)
        .config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions",
        )
        .config("spark.sql.catalog.iceberg", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.iceberg.type", "hadoop")
        .config("spark.sql.catalog.iceberg.warehouse", wh)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture()
def cat(iceberg_spark):
    from olympian_spark.sources.catalog import IcebergCatalog

    return IcebergCatalog(iceberg_spark, "iceberg")


def _tier_rows(spark, days):
    from pyspark.sql import functions as F

    rows = [
        (f"c{i}", f"{d} 0{i}:00:00", 10 + i, 100 + i)
        for d in days
        for i in range(3)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, bucket_start string, n_turns long, sum_text_len long"
    ).withColumn("bucket_start", F.col("bucket_start").cast("timestamp"))
    from olympian_spark.sources.catalog import with_bucket_date

    return with_bucket_date(df)


def test_overwrite_read_roundtrip_and_partition_isolation(iceberg_spark, cat):
    df1 = _tier_rows(iceberg_spark, ["2024-01-01", "2024-01-02"])
    cat.overwrite_partitions("t_roundtrip", df1, input_watermark="wm1")
    assert cat.read("t_roundtrip").count() == 6

    # second commit touches only day 2 — day 1 rows must survive
    from pyspark.sql import functions as F

    df2 = _tier_rows(iceberg_spark, ["2024-01-02"]).withColumn("n_turns", F.lit(99))
    cat.overwrite_partitions("t_roundtrip", df2, input_watermark="wm2")
    got = cat.read("t_roundtrip")
    assert got.count() == 6
    assert got.filter("bucket_date = '2024-01-01' AND n_turns = 99").count() == 0
    assert got.filter("bucket_date = '2024-01-02' AND n_turns = 99").count() == 3
    assert cat.input_watermark("t_roundtrip") == "wm2"


def test_retention_delete_and_lineage(iceberg_spark, cat):
    df = _tier_rows(iceberg_spark, ["2024-01-01", "2024-02-01"])
    cat.overwrite_partitions("t_retention", df)
    cat.delete_where_older("t_retention", "2024-01-15")
    got = cat.read("t_retention")
    assert got.filter("bucket_date < '2024-01-15'").count() == 0
    assert got.count() == 3
    # lineage: the files metadata table exposes per-partition file records
    assert cat.manifest_df("t_retention").count() >= 1


def test_maintenance_procedures_run(iceberg_spark, cat):
    df = _tier_rows(iceberg_spark, ["2024-03-01"])
    cat.overwrite_partitions("t_maint", df)
    cat.overwrite_partitions("t_maint", df)  # second snapshot
    snap = cat.current_snapshot("t_maint")
    assert snap is not None
    cat.expire_snapshots("t_maint", keep_last=1)
    assert cat.read("t_maint").count() == 3

