"""Catalog + incremental refresh + retention + resume (Tier E, SURVEY §5):

- overwrite_partitions touches only the partitions present in the new data
- a snapshot's physical -> logical column map renames on every read
- retention delete drops old partitions and records a snapshot
- incremental refresh (new day arrives) == full recompute
- resume: kill after a partial commit, rerun, final tables identical
- full refresh: no resurrection after retention, empty input commits nothing
- grouped tier write: one file per (table, day), no staging dir left
- manifest carries per-partition lineage + metrics
- reads take their schema from parquet footers: the schema Spark infers,
  0 Spark jobs to build a frame, and incremental refreshes that plan only
  their boundary days
"""

import itertools
import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from olympian_spark.datagen import gen_transcripts
from olympian_spark.plans.pipeline import QcParams
from olympian_spark.plans.refresh import (
    DIM_TABLES,
    TIER_TABLES,
    apply_retention,
    refresh_tiers,
)
from olympian_spark.sources.catalog import ParquetManifestCatalog

PARAMS = QcParams(dip_high=300.0, dip_max=1200.0)


def _split_by_day(spark, n_turns=12_000, n_convs=40):
    pdf = gen_transcripts(n_turns=n_turns, n_convs=n_convs, seed=42).to_pandas()
    df = spark.createDataFrame(pdf)
    days = sorted(str(r[0]) for r in df.select(F.to_date("ts")).distinct().collect())
    split = days[len(days) // 2]
    first = df.filter(F.to_date("ts") <= split)
    return df, first, split


def _table_state(cat, table):
    return (
        cat.read(table)
        .orderBy("conv_id", "bucket_start")
        .drop("block")
        .toPandas()
        .reset_index(drop=True)
    )


def test_incremental_refresh_equals_full(spark, tmp_path):
    full, first, split = _split_by_day(spark)

    # incremental: commit first half, then the rest arrives
    cat_inc = ParquetManifestCatalog(spark, str(tmp_path / "inc"))
    refresh_tiers(spark, cat_inc, first, watermark="wm1", params=PARAMS)
    refresh_tiers(
        spark, cat_inc, full, watermark="wm2", since_watermark=f"{split} 23:59:59.999999",
        params=PARAMS,
    )

    # oracle: one-shot full refresh
    cat_full = ParquetManifestCatalog(spark, str(tmp_path / "full"))
    refresh_tiers(spark, cat_full, full, watermark="wm2", params=PARAMS)

    for table in TIER_TABLES:
        a = _table_state(cat_inc, table)
        b = _table_state(cat_full, table)
        assert a.equals(b), f"incremental != full for {table}"


def _persisted_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_refresh_leaves_nothing_persisted(spark, tmp_path):
    """A full and an incremental refresh_tiers release every frame they
    persist (stage 1's sort, the tagged tiers, the dims, the affected
    conversation set): nothing stays cached across runs of a long-lived
    session."""
    full, first, split = _split_by_day(spark, n_turns=3_000, n_convs=10)
    before = _persisted_rdd_ids(spark)
    cat = ParquetManifestCatalog(spark, str(tmp_path / "leak"))
    refresh_tiers(spark, cat, first, watermark="wm1", params=PARAMS)
    assert _persisted_rdd_ids(spark) == before
    refresh_tiers(
        spark, cat, full, watermark="wm2", since_watermark=f"{split} 23:59:59.999999",
        params=PARAMS,
    )
    assert _persisted_rdd_ids(spark) == before


def test_incremental_refresh_shuffle_join_path(spark, tmp_path):
    """Both broadcast thresholds at -1 force the scale-safe shuffle semi/anti
    joins (the path taken when a day touches more conv_ids than is
    broadcastable); result must be identical to the broadcast path."""
    full, first, split = _split_by_day(spark, n_turns=6_000, n_convs=20)

    cat_sh = ParquetManifestCatalog(spark, str(tmp_path / "sh"))
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        refresh_tiers(spark, cat_sh, first, watermark="wm1", params=PARAMS)
        refresh_tiers(
            spark, cat_sh, full, watermark="wm2",
            since_watermark=f"{split} 23:59:59.999999", params=PARAMS,
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    cat_bc = ParquetManifestCatalog(spark, str(tmp_path / "bc"))
    refresh_tiers(spark, cat_bc, full, watermark="wm2", params=PARAMS)

    for table in TIER_TABLES:
        assert _table_state(cat_sh, table).equals(_table_state(cat_bc, table)), table


def test_resume_after_partial_commit(spark, tmp_path):
    """Kill a full refresh at the per-table commit step after tier_1m
    committed and before tier_1h did. The rerun skips tier_1m, writes and
    commits only the tables still pending, and ends equal to a one-shot
    refresh."""
    full, first, _ = _split_by_day(spark, n_turns=6_000, n_convs=20)
    cat = ParquetManifestCatalog(spark, str(tmp_path / "resume"))
    refresh_tiers(spark, cat, first, watermark="wm1", params=PARAMS)

    class Boom(RuntimeError):
        pass

    orig = ParquetManifestCatalog._commit_written
    committed = []

    def dying(self, table, *a, **kw):
        if table == "tier_1h":
            raise Boom()
        committed.append(table)
        return orig(self, table, *a, **kw)

    ParquetManifestCatalog._commit_written = dying
    try:
        with pytest.raises(Boom):
            refresh_tiers(spark, cat, full, watermark="wm2", params=PARAMS)
    finally:
        ParquetManifestCatalog._commit_written = orig
    assert committed == ["tier_1m"]
    assert cat.input_watermark("tier_1m") == "wm2"
    assert all(cat.input_watermark(t) == "wm1" for t in TIER_TABLES[1:])

    # resume: rerun the same refresh; already-committed tier_1m is skipped
    # and is neither committed nor written again
    tier_1m_dirs = sorted(os.listdir(os.path.join(cat.root, "tier_1m", "data")))
    committed.clear()

    def recording(self, table, *a, **kw):
        committed.append(table)
        return orig(self, table, *a, **kw)

    ParquetManifestCatalog._commit_written = recording
    try:
        results = refresh_tiers(spark, cat, full, watermark="wm2", params=PARAMS)
    finally:
        ParquetManifestCatalog._commit_written = orig
    assert results["tier_1m"] == "skipped"
    assert committed == ["tier_1h", "tier_1d", "rollup_role_1h", "rollup_tool_1h"]
    assert sorted(os.listdir(os.path.join(cat.root, "tier_1m", "data"))) == tier_1m_dirs

    cat2 = ParquetManifestCatalog(spark, str(tmp_path / "oneshot"))
    refresh_tiers(spark, cat2, full, watermark="wm2", params=PARAMS)
    for table in TIER_TABLES:
        assert _table_state(cat, table).equals(_table_state(cat2, table)), table


def test_full_refresh_after_retention_does_not_resurrect(spark, tmp_path):
    """Expiry wins over a full refresh too: it recomputes every day of the
    input, yet re-creates no expired partition on any of the five tables,
    and what it keeps equals a fresh full refresh from the cutoff on."""
    full, _, _ = _split_by_day(spark, n_turns=6_000, n_convs=20)
    cat = ParquetManifestCatalog(spark, str(tmp_path / "frr"))
    refresh_tiers(spark, cat, full, watermark="wm1", params=PARAMS)
    tables = (*TIER_TABLES, *DIM_TABLES)
    days = sorted(str(r[0]) for r in full.select(F.to_date("ts")).distinct().collect())
    cutoff = days[len(days) // 2]
    apply_retention(cat, {t: cutoff for t in tables})

    results = refresh_tiers(spark, cat, full, watermark="wm2", params=PARAMS)
    assert all(results[t] != "skipped" for t in tables)
    cat_full = ParquetManifestCatalog(spark, str(tmp_path / "frr_full"))
    refresh_tiers(spark, cat_full, full, watermark="wm2", params=PARAMS)
    for t in tables:
        assert all(d >= cutoff for d in cat.committed_partitions(t)), t
        assert all(d >= cutoff for d in results[t]["partitions"]), t
        stored = {str(r[0]) for r in cat.read(t).select("bucket_date").distinct().collect()}
        assert stored and all(d >= cutoff for d in stored), f"{t}: expired rows on disk"
    for t in TIER_TABLES:
        b = _table_state(cat_full, t)
        b = b[b.bucket_date.astype(str) >= cutoff].reset_index(drop=True)
        assert _table_state(cat, t).equals(b), t


def test_full_refresh_of_empty_frame_commits_nothing(spark, tmp_path):
    """An empty full refresh returns {} and commits no snapshot, into a new
    catalog and into one whose tables have retention cutoffs."""
    full, _, _ = _split_by_day(spark, n_turns=500, n_convs=5)
    tables = (*TIER_TABLES, *DIM_TABLES)
    cat = ParquetManifestCatalog(spark, str(tmp_path / "empty"))
    assert refresh_tiers(spark, cat, full.limit(0), watermark="wm", params=PARAMS) == {}
    for t in tables:
        assert cat.current_snapshot(t) is None, t
    assert os.listdir(cat.root) == []

    cat = ParquetManifestCatalog(spark, str(tmp_path / "expired"))
    refresh_tiers(spark, cat, full, watermark="wm1", params=PARAMS)
    days = sorted(str(r[0]) for r in full.select(F.to_date("ts")).distinct().collect())
    apply_retention(cat, {t: days[-1] for t in tables})
    before = {t: cat.current_snapshot(t)["snapshot_id"] for t in tables}
    assert refresh_tiers(spark, cat, full.limit(0), watermark="wm2", params=PARAMS) == {}
    for t in tables:
        assert cat.current_snapshot(t)["snapshot_id"] == before[t], t
        assert cat.input_watermark(t) == "wm1", t


def _staging_dirs(cat):
    return [d for d in os.listdir(cat.root) if d.startswith("_staging")]


def test_refresh_clears_stale_staging_dir(spark, tmp_path):
    """A process killed during a grouped write leaves ``_staging`` behind;
    the rerun clears it, so none of its files reach a table. Under dynamic
    partition overwrite, ``mode("overwrite")`` alone would keep the stale
    partition, which the commit would then pick up."""
    full, _, _ = _split_by_day(spark, n_turns=2_000, n_convs=10)
    cat = ParquetManifestCatalog(spark, str(tmp_path / "stale"))
    stale = os.path.join(cat.root, "_staging", "_grain=0", "bucket_date=1999-01-01")
    os.makedirs(stale)
    full.limit(5).toPandas().to_parquet(os.path.join(stale, "part-stale.parquet"))
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try:
        refresh_tiers(spark, cat, full, watermark="wm", params=PARAMS)
    finally:
        spark.conf.set(key, prior)
    assert _staging_dirs(cat) == []
    for t in TIER_TABLES:
        assert "1999-01-01" not in cat.committed_partitions(t), t


def test_grouped_write_one_file_per_table_day_and_no_staging_left(spark, tmp_path):
    """overwrite_grouped writes exactly one parquet file per (table, day)
    whatever the upstream fan-out, commits each table with footer metrics
    like overwrite_partitions, and leaves no staging directory behind."""
    cat = ParquetManifestCatalog(spark, str(tmp_path / "grp"))
    rows = [
        ("k%03d" % i, "2024-01-%02d" % (1 + i // 3 % 9), i % 3, i) for i in range(270)
    ]
    df = spark.createDataFrame(
        rows, "k string, bucket_date string, _grain tinyint, v int"
    ).repartition(16)  # heavy fan-out upstream
    snaps = cat.overwrite_grouped({0: "a", 1: "b", 2: "c"}, df, input_watermark="wm")
    assert set(snaps) == {"a", "b", "c"}
    for table, snap in snaps.items():
        base = cat._snap_dir(table, snap["snapshot_id"])
        parts = sorted(d for d in os.listdir(base) if d.startswith("bucket_date="))
        assert len(parts) == 9, table
        # only data files: no .crc, _SUCCESS, _temporary or temporary file
        assert sorted(os.listdir(base)) == parts, table
        for d in parts:
            names = os.listdir(os.path.join(base, d))
            assert all(f.startswith("part-") and f.endswith(".parquet") for f in names), names
        for d in parts:
            n = sum(1 for f in os.listdir(os.path.join(base, d)) if f.endswith(".parquet"))
            assert n == 1, f"{table}/{d}: {n} files"
        assert sum(r["rows"] for r in snap["partitions"].values()) == 90
        assert cat.input_watermark(table) == "wm"
        assert cat.verify_table(table)["ok"], table
        assert "_grain" not in cat.read(table).columns
    assert sorted(r.v for r in cat.read("b").collect()) == list(range(1, 270, 3))
    assert _staging_dirs(cat) == []


def test_grouped_write_removes_staging_when_it_raises(spark, tmp_path):
    cat = ParquetManifestCatalog(spark, str(tmp_path / "grpfail"))
    df = spark.createDataFrame(
        [("a", "2024-01-01", 0, 1)], "k string, bucket_date string, _grain tinyint, v int"
    )
    boom = df.withColumn("v", F.raise_error(F.lit("boom")))
    with pytest.raises(Exception, match="boom"):
        cat.overwrite_grouped({0: "a"}, boom, input_watermark="wm")
    assert _staging_dirs(cat) == []
    assert cat.current_snapshot("a") is None


def test_write_rejects_null_or_non_day_partition_values(spark, tmp_path):
    """A NULL or non-day ``bucket_date``, or a NULL ``_grain``, fails the
    write: nothing is committed and no staging directory is left. Committed,
    a NULL day would be a partition that no retention cutoff removes."""
    cat = ParquetManifestCatalog(spark, str(tmp_path / "badday"))
    schema = "k string, bucket_date string, v int"
    for day, message in ((None, "bucket_date None is not"), ("2024-1-5", "'2024-1-5' is not")):
        df = spark.createDataFrame([("a", "2024-01-01", 1), ("b", day, 2)], schema)
        with pytest.raises(Exception, match=message):
            cat.overwrite_partitions("t", df)
        assert cat.current_snapshot("t") is None
        assert _staging_dirs(cat) == []
    df = spark.createDataFrame([("a", "2024-01-01", None, 1)], "k string, bucket_date string, _grain int, v int")
    with pytest.raises(Exception, match="_grain is NULL"):
        cat.overwrite_grouped({0: "t"}, df, input_watermark="wm")
    assert cat.current_snapshot("t") is None
    assert _staging_dirs(cat) == []


def test_write_task_one_file_per_key_in_row_order(tmp_path):
    """The write task on Arrow batches, without Spark: one key spanning a
    batch seam, several keys in one batch, one file per key holding the data
    columns of its rows in order, and no file but ``part-*.parquet`` left."""
    from datetime import date

    import pyarrow as pa
    import pyarrow.parquet as pq

    from olympian_spark.sources.catalog import _write_files

    def batch(keys, vs):
        return pa.RecordBatch.from_pydict({
            "k": [f"k{v}" for v in vs],
            "_grain": pa.array([g for g, _ in keys], pa.int8()),
            "bucket_date": [date(2024, 1, d) for _, d in keys],
            "v": vs,
        })

    batches = [
        batch([(0, 1)] * 3 + [(0, 2)] * 2 + [(1, 1)], [0, 1, 2, 3, 4, 5]),
        batch([(1, 1)] * 2 + [(1, 3)], [6, 7, 8]),
    ]
    stage = str(tmp_path / "stage")
    out = list(_write_files(iter(batches), stage, 3, 0))
    assert [b.to_pydict() for b in out] == [{"files": [4]}]
    written = {
        os.path.relpath(os.path.join(d, f), stage): pq.read_table(os.path.join(d, f))
        for d, _, fs in os.walk(stage) for f in fs
    }
    key = "_grain={}/bucket_date=2024-01-0{}/part-00003.parquet".format
    assert set(written) == {key(0, 1), key(0, 2), key(1, 1), key(1, 3)}
    for t in written.values():
        assert t.column_names == ["k", "v"]
    assert written[key(0, 1)].column("v").to_pylist() == [0, 1, 2]
    assert written[key(1, 1)].column("v").to_pylist() == [5, 6, 7]
    assert written[key(1, 3)].column("k").to_pylist() == ["k8"]

    def failing():
        yield batches[0]
        raise RuntimeError("task killed")

    stage = str(tmp_path / "failed")
    with pytest.raises(RuntimeError, match="task killed"):
        list(_write_files(failing(), stage, 3, 1))
    left = [f for _, _, fs in os.walk(stage) for f in fs]
    assert left == ["part-00003.parquet"] * 2  # the keys closed before the failure


def test_overwrite_touches_only_new_partitions(spark, tmp_path):
    cat = ParquetManifestCatalog(spark, str(tmp_path / "c"))
    df1 = spark.createDataFrame(
        [("a", "2024-01-01", 1), ("a", "2024-01-02", 2)], "k string, bucket_date string, v int"
    )
    cat.overwrite_partitions("t", df1)
    d1 = os.path.join(str(tmp_path / "c"), "t/data/s1/bucket_date=2024-01-01")
    mtime_before = max(os.path.getmtime(os.path.join(d1, f)) for f in os.listdir(d1))

    df2 = spark.createDataFrame([("a", "2024-01-02", 99)], "k string, bucket_date string, v int")
    cat.overwrite_partitions("t", df2)
    mtime_after = max(os.path.getmtime(os.path.join(d1, f)) for f in os.listdir(d1))
    assert mtime_before == mtime_after  # 01-01 untouched (copy-on-write)
    got = {(str(r.bucket_date), r.v) for r in cat.read("t").collect()}
    assert got == {("2024-01-01", 1), ("2024-01-02", 99)}
    # an empty frame commits nothing, as overwrite_grouped does
    assert cat.overwrite_partitions("t", df2.limit(0)) is None
    assert cat.current_snapshot("t")["snapshot_id"] == 2


def test_column_map_reads_old_and_new_layouts_as_one_column(spark, tmp_path):
    """A table whose first snapshot stores ``role`` and whose second stores
    ``dim_value`` with the physical -> logical map reads as one ``role``
    column: at head, as of the first snapshot, and in a range read over
    both layouts."""
    from datetime import datetime, timedelta

    cat = ParquetManifestCatalog(spark, str(tmp_path / "cm"))
    t0 = datetime(2024, 1, 1, 10)
    s1 = cat.overwrite_partitions("t", spark.createDataFrame(
        [("2024-01-01", t0, "user", 1)],
        "bucket_date string, bucket_start timestamp, role string, n long",
    ))
    s2 = cat.overwrite_grouped(
        {1: "t"},
        spark.createDataFrame(
            [("2024-01-02", t0 + timedelta(days=1), "assistant", 2, 1)],
            "bucket_date string, bucket_start timestamp, dim_value string, n long, _grain int",
        ),
        "wm", {"t": {"dim_value": "role"}},
    )["t"]
    assert "columns" not in s1 and s2["columns"] == {"dim_value": "role"}
    assert "dim_value" in spark.read.parquet(cat._snap_dir("t", s2["snapshot_id"])).columns

    def rows(df):
        assert sorted(df.columns) == ["bucket_date", "bucket_start", "n", "role"]
        return sorted((str(r.bucket_date), r.role, r.n) for r in df.collect())

    both = [("2024-01-01", "user", 1), ("2024-01-02", "assistant", 2)]
    assert rows(cat.read("t")) == both
    assert rows(cat.read("t", as_of=s1["snapshot_id"])) == both[:1]
    assert rows(cat.read_where_between("t", "bucket_start", t0, t0 + timedelta(days=2))) == both


def test_time_travel_and_vacuum(spark, tmp_path):
    """Snapshot semantics of the copy-on-write format: as-of reads
    reconstruct any historical state, vacuum reclaims only files no kept
    state references, and an expired or unknown state raises by name."""
    cat = ParquetManifestCatalog(spark, str(tmp_path / "tt"))
    mk = lambda rows: spark.createDataFrame(rows, "k string, bucket_date string, v int")
    s1 = cat.overwrite_partitions("t", mk([("a", "2024-01-01", 1), ("a", "2024-01-02", 2)]))
    s2 = cat.overwrite_partitions("t", mk([("a", "2024-01-02", 99)]))
    cat.delete_where_older("t", "2024-01-02")  # s3: 01-01 expires (metadata-only)

    state = lambda df: {(str(r.bucket_date), r.v) for r in df.collect()}
    assert state(cat.read("t")) == {("2024-01-02", 99)}
    assert state(cat.read("t", as_of=s1["snapshot_id"])) == {
        ("2024-01-01", 1), ("2024-01-02", 2)}
    assert state(cat.read("t", as_of=s2["snapshot_id"])) == {
        ("2024-01-01", 1), ("2024-01-02", 99)}

    # vacuum with no history retention: s1 is unreachable (its 01-01
    # partition expired, its 01-02 partition was overwritten by s2), so its
    # directory goes; the head state is intact
    cat.expire_snapshots("t", keep_last=0)
    assert not os.path.isdir(os.path.join(str(tmp_path / "tt"), "t/data/s1"))
    assert state(cat.read("t")) == {("2024-01-02", 99)}
    with pytest.raises(ValueError, match=r"t: snapshot 1 is expired \(2024-01-01 reclaimed\)"):
        cat.read("t", as_of=s1["snapshot_id"]).collect()
    # an id the manifest never committed raises too, not a silent head read
    with pytest.raises(ValueError, match="t: no snapshot 999 in the manifest"):
        cat.read("t", as_of=999)
    with pytest.raises(ValueError, match="t: no snapshot 999 in the manifest"):
        cat.committed_partitions("t", as_of=999)


def test_fold_rejects_unknown_manifest_op(spark, tmp_path):
    """A manifest record whose op the fold does not know (here a
    ``compact`` record, which an older catalog version wrote) raises,
    naming the snapshot and the op, instead of folding to a wrong live set;
    the state before it still folds."""
    cat = ParquetManifestCatalog(spark, str(tmp_path / "op"))
    rec = {"rows": 1, "bytes": 1, "wall_s": 0.0, "input_watermark": None}
    cat._append_snapshot("t", "overwrite_partitions", {"2024-01-01": rec})
    cat._append_snapshot("t", "compact", {"2024-01-02": rec})
    with pytest.raises(ValueError, match=r"snapshot 2: unknown manifest op 'compact'"):
        cat.committed_partitions("t")
    with pytest.raises(ValueError, match="'compact'"):
        cat.expire_snapshots("t")
    assert set(cat.committed_partitions("t", as_of=1)) == {"2024-01-01"}


def test_fold_rejects_foreign_partition_column(spark, tmp_path):
    """Every table is partitioned on ``bucket_date``. An older catalog
    version also stored a per-record ``partition_col``: a record naming
    ``bucket_date`` still folds, and any other value raises, naming the
    snapshot, instead of folding month values in as days."""
    import json

    cat = ParquetManifestCatalog(spark, str(tmp_path / "pc"))
    rec = {"rows": 1, "bytes": 1, "wall_s": 0.0, "input_watermark": None}
    snaps = [
        {"snapshot_id": sid, "op": "overwrite_partitions", "committed_at": "",
         "partitions": {pval: rec}, "input_watermark": None, "partition_col": pcol}
        for sid, pval, pcol in ((1, "2024-01-01", "bucket_date"), (2, "2024-02", "bucket_month"))
    ]
    os.makedirs(cat._table_dir("t"))
    with open(cat._manifest_path("t"), "w") as f:
        json.dump({"table": "t", "snapshots": snaps}, f)
    with pytest.raises(ValueError, match=r"snapshot 2: partitioned on 'bucket_month'"):
        cat.committed_partitions("t")
    with pytest.raises(ValueError, match="'bucket_month'"):
        cat.expire_snapshots("t")
    assert set(cat.committed_partitions("t", as_of=1)) == {"2024-01-01"}


def test_schema_evolution_null_fills_added_column(spark, tmp_path):
    """Add-column evolution: partitions written before a column existed
    null-fill it on read (Iceberg semantics)."""
    cat = ParquetManifestCatalog(spark, str(tmp_path / "se"))
    cat.overwrite_partitions(
        "t",
        spark.createDataFrame([("a", "2024-01-01", 1)], "k string, bucket_date string, v int"),
    )
    cat.overwrite_partitions(
        "t",
        spark.createDataFrame(
            [("b", "2024-01-02", 2, 9.5)],
            "k string, bucket_date string, v int, score double",
        ),
    )
    got = {(r.k, r.v, r.score) for r in cat.read("t").collect()}
    assert got == {("a", 1, None), ("b", 2, 9.5)}


def test_vacuum_reclaims_orphans_keeps_history(spark, tmp_path):
    cat = ParquetManifestCatalog(spark, str(tmp_path / "vo"))
    mk = lambda rows: spark.createDataFrame(rows, "k string, bucket_date string, v int")
    s1 = cat.overwrite_partitions("t", mk([("a", "2024-01-01", 1)]))
    s2 = cat.overwrite_partitions("t", mk([("a", "2024-01-01", 2)]))
    # orphan of a crashed commit: data written, manifest never swapped
    orphan = os.path.join(str(tmp_path / "vo"), "t/data/s99/bucket_date=2024-01-01")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "wb").close()

    cat.expire_snapshots("t", keep_last=2)
    assert not os.path.isdir(os.path.dirname(orphan))
    state = lambda df: {(str(r.bucket_date), r.v) for r in df.collect()}
    assert state(cat.read("t", as_of=s1["snapshot_id"])) == {("2024-01-01", 1)}
    assert state(cat.read("t", as_of=s2["snapshot_id"])) == {("2024-01-01", 2)}


def test_retention_and_manifest(spark, tmp_path):
    cat = ParquetManifestCatalog(spark, str(tmp_path / "r"))
    rows = [("a", f"2024-01-{d:02d}", d) for d in range(1, 11)]
    cat.overwrite_partitions("t", spark.createDataFrame(rows, "k string, bucket_date string, v int"),
                             input_watermark="wm1")
    apply_retention(cat, {"t": "2024-01-05"})
    left = sorted(str(r.bucket_date) for r in cat.read("t").collect())
    assert left == [f"2024-01-{d:02d}" for d in range(5, 11)]
    live = cat.committed_partitions("t")
    assert set(live) == set(left)
    m = cat.manifest_df("t").toPandas()
    assert (m[m.op == "overwrite_partitions"].rows > 0).all()
    assert cat.input_watermark("t") == "wm1"
    snap = cat.current_snapshot("t")
    assert snap["op"] == "retention_delete" and snap["cutoff"] == "2024-01-05"


def test_refresh_after_retention_does_not_resurrect(spark, tmp_path):
    """Expiry wins over refresh: after apply_retention, an incremental
    refresh (which recomputes from FULL turn history of affected
    conversations — including boundary-day merges that reach back before
    the cutoff) must not re-create expired partitions."""
    full, first, split = _split_by_day(spark)
    cat = ParquetManifestCatalog(spark, str(tmp_path / "rr"))
    refresh_tiers(spark, cat, first, watermark="wm1", params=PARAMS)

    days = sorted(str(r[0]) for r in full.select(F.to_date("ts")).distinct().collect())
    cutoff = days[1]  # expire the first day on every tier
    apply_retention(cat, {t: cutoff for t in TIER_TABLES})
    for t in TIER_TABLES:
        assert cat.retention_cutoff(t) == cutoff
        live = set(cat.committed_partitions(t))
        assert all(d >= cutoff for d in live), f"{t}: expired day survived retention"

    # second half arrives; conversations spanning the cutoff force
    # boundary-day recomputation that reaches into the expired day
    refresh_tiers(
        spark, cat, full, watermark="wm2",
        since_watermark=f"{split} 23:59:59.999999", params=PARAMS,
    )
    for t in TIER_TABLES:
        live = set(cat.committed_partitions(t))
        assert all(d >= cutoff for d in live), f"{t}: refresh resurrected expired day"
        stored = {str(r[0]) for r in cat.read(t).select("bucket_date").distinct().collect()}
        assert all(d >= cutoff for d in stored), f"{t}: expired rows on disk"
    # and the post-cutoff data is all there: matches a full recompute >= cutoff
    cat_full = ParquetManifestCatalog(spark, str(tmp_path / "rr_full"))
    refresh_tiers(spark, cat_full, full, watermark="wm2", params=PARAMS)
    for t in TIER_TABLES:
        a = _table_state(cat, t)
        b = _table_state(cat_full, t)
        b = b[b.bucket_date.astype(str) >= cutoff].reset_index(drop=True)
        assert a.equals(b), f"{t}: post-cutoff content diverged from full recompute"


def test_default_distribution_one_file_per_partition(spark, tmp_path):
    """The default hash distribution writes exactly one file per partition
    value regardless of upstream task fan-out — the guard against the
    tasks x days small-file explosion (measured 14k files for 8k day
    partitions before the fix)."""
    cat = ParquetManifestCatalog(spark, str(tmp_path / "cd"))
    rows = [
        ("k%03d" % i, "2024-01-%02d" % (1 + i % 9), i) for i in range(270)
    ]
    df = spark.createDataFrame(
        rows, "k string, bucket_date string, v int"
    ).repartition(16)  # heavy fan-out upstream
    cat.overwrite_partitions("t", df)
    base = os.path.join(str(tmp_path / "cd"), "t/data/s1")
    for d in sorted(os.listdir(base)):
        if not d.startswith("bucket_date="):
            continue
        n = sum(1 for f in os.listdir(os.path.join(base, d)) if f.endswith(".parquet"))
        assert n == 1, f"{d}: {n} files"
    # content survives the redistribution
    assert cat.read("t").count() == 270


def test_manifest_column_stats_pruned_read(spark, tmp_path):
    """Every commit records per-partition [min, max] ``bucket_start``
    bounds from parquet footers (metadata only); read_where_between scans
    ONLY overlapping partitions and still row-filters exactly."""
    from datetime import datetime, timedelta

    cat = ParquetManifestCatalog(spark, str(tmp_path / "stats"))
    schema = "k string, bucket_date string, bucket_start timestamp"
    t0 = datetime(2024, 1, 1)
    rows = [
        (f"k{j}", f"2024-01-0{d + 1}", t0 + timedelta(days=d, minutes=j))
        for d in range(3) for j in range(100)
    ]
    cat.overwrite_partitions("t", spark.createDataFrame(rows, schema))

    def at(d, m):
        return (t0 + timedelta(days=d, minutes=m)).isoformat()

    live = cat.committed_partitions("t")
    assert [b[:19] for b in live["2024-01-01"]["stats"]["bucket_start"]] == [at(0, 0), at(0, 99)]
    assert [b[:19] for b in live["2024-01-03"]["stats"]["bucket_start"]] == [at(2, 0), at(2, 99)]

    # metadata-only pruning: the middle partition alone overlaps
    lo, hi = at(1, 50), at(1, 60)
    assert set(cat.pruned_partitions("t", "bucket_start", lo, hi)) == {"2024-01-02"}
    got = cat.read_where_between("t", "bucket_start", lo, hi)
    assert sorted(r.k for r in got.collect()) == sorted(f"k{j}" for j in range(50, 61))
    # range spanning two partitions
    lo, hi = at(0, 90), at(1, 10)
    assert set(cat.pruned_partitions("t", "bucket_start", lo, hi)) == {
        "2024-01-01", "2024-01-02",
    }
    assert cat.read_where_between("t", "bucket_start", lo, hi).count() == 10 + 11
    # disjoint range -> empty frame, zero partitions scanned
    lo, hi = at(5, 0), at(6, 0)
    assert set(cat.pruned_partitions("t", "bucket_start", lo, hi)) == set()
    assert cat.read_where_between("t", "bucket_start", lo, hi).count() == 0
    # a partition whose record has no bounds (bucket_start all NULL) stays
    # conservatively unpruned
    cat.overwrite_partitions(
        "t", spark.createDataFrame([("z", "2024-01-09", None)], schema)
    )
    assert "stats" not in cat.committed_partitions("t")["2024-01-09"]
    assert set(cat.pruned_partitions("t", "bucket_start", lo, hi)) == {"2024-01-09"}


def test_pruning_compares_bounds_as_instants(spark, tmp_path):
    """A range end exactly on a partition's first bucket_start keeps that
    partition, as ``between`` includes the row: the footer bound carries
    ``+00:00`` and a naive datetime or a string end does not, so the ends
    and the bounds compare as UTC instants, not as ISO strings."""
    from datetime import datetime, timedelta

    cat = ParquetManifestCatalog(spark, str(tmp_path / "instants"))
    t0 = datetime(2024, 1, 1, 10)
    t1 = t0 + timedelta(days=1)
    cat.overwrite_partitions("t", spark.createDataFrame(
        [("a", "2024-01-01", t0), ("b", "2024-01-02", t1)],
        "k string, bucket_date string, bucket_start timestamp",
    ))
    assert cat.committed_partitions("t")["2024-01-02"]["stats"]["bucket_start"][0].endswith("+00:00")
    for hi in (t1, "2024-01-02T10:00:00", "2024-01-02 10:00:00"):
        assert set(cat.pruned_partitions("t", "bucket_start", t0, hi)) == {
            "2024-01-01", "2024-01-02",
        }, hi
        assert sorted(r.k for r in cat.read_where_between("t", "bucket_start", t0, hi).collect()) == [
            "a", "b",
        ], hi
    # a space-separated end on a partition's own day keeps that partition
    assert set(cat.pruned_partitions("t", "bucket_start", t0, "2024-01-01 11:00:00")) == {
        "2024-01-01",
    }


def test_refresh_commits_bucket_start_bounds(spark, tmp_path):
    """Tier refresh records bucket_start bounds in the manifest, and a
    time-range read prunes to the overlapping day partitions only."""
    full, first, split = _split_by_day(spark)
    cat = ParquetManifestCatalog(spark, str(tmp_path / "tstats"))
    refresh_tiers(spark, cat, full, watermark="wm", params=PARAMS)
    live = cat.committed_partitions("tier_1h")
    assert live and all(
        "bucket_start" in (rec.get("stats") or {}) for rec in live.values()
    )
    some_day = sorted(live)[1]
    lo, hi = f"{some_day}T06:00:00", f"{some_day}T07:00:00"
    assert set(cat.pruned_partitions("tier_1h", "bucket_start", lo, hi)) == {some_day}
    # every committed file stores bucket_start as UTC INT64 microseconds
    # with footer min/max statistics
    import json

    import pyarrow.parquet as pq

    for t in (*TIER_TABLES, *DIM_TABLES):
        for pval, rec in cat.committed_partitions(t).items():
            pdir = cat._part_dir(t, rec["snapshot_id"], pval)
            for f in (f for f in os.listdir(pdir) if f.endswith(".parquet")):
                md = pq.ParquetFile(os.path.join(pdir, f)).metadata
                i = md.schema.names.index("bucket_start")
                col = md.schema.column(i)
                assert col.physical_type == "INT64", (t, f)
                logical = json.loads(col.logical_type.to_json())
                assert logical["Type"] == "Timestamp", (t, f)
                assert (logical["timeUnit"], logical["isAdjustedToUTC"]) == ("microseconds", True)
                assert all(md.row_group(g).column(i).statistics.has_min_max
                           for g in range(md.num_row_groups)), (t, f)


def test_verify_table_detects_tamper(spark, tmp_path):
    """verify_table is clean on a healthy table, flags deleted partition
    dirs and row-count drift, and stays clean across time-travel ops."""
    import glob
    import os as _os
    import shutil

    cat = ParquetManifestCatalog(spark, str(tmp_path / "vt"))
    mk = lambda rows: spark.createDataFrame(rows, "k string, bucket_date string, v int")
    cat.overwrite_partitions("t", mk(
        [("a", "2024-01-01", 1), ("b", "2024-01-02", 2), ("c", "2024-01-03", 3)]
    ))
    rep = cat.verify_table("t")
    assert rep["ok"] and rep["partitions"] == 3 and rep["issues"] == []

    # retention + new commit keep the audit clean
    cat.delete_where_older("t", "2024-01-02")
    cat.overwrite_partitions("t", mk([("d", "2024-01-04", 4)]))
    assert cat.verify_table("t")["ok"]

    # tamper: remove one live partition's files
    live = cat.committed_partitions("t")
    rec = live["2024-01-02"]
    pdir = _os.path.join(cat._snap_dir("t", rec["snapshot_id"]), "bucket_date=2024-01-02")
    for f in glob.glob(_os.path.join(pdir, "*.parquet")):
        _os.remove(f)
    rep2 = cat.verify_table("t")
    assert not rep2["ok"]
    assert any("2024-01-02" in i for i in rep2["issues"])
    shutil.rmtree(pdir)
    rep3 = cat.verify_table("t")
    assert any("missing directory" in i for i in rep3["issues"])


_GROUPS = itertools.count()


@contextmanager
def _jobs(spark):
    """Counts, in the yielded list, the Spark jobs the block runs."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    saved = {k: sc.getLocalProperty(k) for k in keys}
    group = f"count-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    counted = []
    try:
        yield counted
    finally:
        counted.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


def _inferred_schema(spark, cat, table):
    """The schema of a head read whose snapshot groups each let Spark infer
    their schema from their files (renamed by their ``columns`` map and
    unioned as the catalog unions them)."""
    snaps = {s["snapshot_id"]: s for s in cat._load_manifest(table)["snapshots"]}
    groups = {}
    for pval, rec in cat.committed_partitions(table).items():
        groups.setdefault(rec["snapshot_id"], []).append(pval)
    out = None
    for sid in sorted(groups):
        part = spark.read.option("basePath", cat._snap_dir(table, sid)).parquet(
            *(cat._part_dir(table, sid, pval) for pval in groups[sid])
        ).withColumnsRenamed(snaps[sid].get("columns") or {})
        out = part if out is None else out.unionByName(part, allowMissingColumns=True)
    return out.schema


def test_read_schema_is_the_inferred_schema(spark, tmp_path):
    """The footer schema a read plans with is the one Spark infers from the
    files, nullability included: on the five refresh tables after a full and
    an incremental refresh, and on a table whose older snapshot lacks a
    column that the read null-fills."""
    full, first, split = _split_by_day(spark, n_turns=3_000, n_convs=10)
    cat = ParquetManifestCatalog(spark, str(tmp_path / "schema"))
    refresh_tiers(spark, cat, first, watermark="wm1", params=PARAMS)
    refresh_tiers(
        spark, cat, full, watermark="wm2", since_watermark=f"{split} 23:59:59.999999",
        params=PARAMS,
    )
    for table in (*TIER_TABLES, *DIM_TABLES):
        assert len({r["snapshot_id"] for r in cat.committed_partitions(table).values()}) == 2
        assert cat.read(table).schema == _inferred_schema(spark, cat, table), table

    cat.overwrite_partitions("t", spark.createDataFrame(
        [("a", "2024-01-01", 1)], "k string, bucket_date string, v int"))
    cat.overwrite_partitions("t", spark.createDataFrame(
        [("b", "2024-01-02", 2, [1.5])],
        "k string, bucket_date string, v int, score array<double>",
    ))
    got = cat.read("t")
    assert got.columns == ["k", "v", "bucket_date", "score"]
    assert got.schema == _inferred_schema(spark, cat, "t")
    assert {(r.k, r.score and tuple(r.score)) for r in got.collect()} == {
        ("a", None), ("b", (1.5,))}


def test_reads_plan_without_spark_jobs(spark, tmp_path):
    """On a table of three snapshot groups, building a head, time-travel,
    range or day read runs no Spark job (no per-group schema inference), and
    collecting one runs exactly one. A range that overlaps no partition is an
    empty frame with the table's schema."""
    from datetime import datetime, timedelta

    cat = ParquetManifestCatalog(spark, str(tmp_path / "jobs"))
    t0 = datetime(2024, 1, 1, 10)
    for d in range(3):
        cat.overwrite_partitions("t", spark.createDataFrame(
            [(f"k{d}", f"2024-01-0{d + 1}", t0 + timedelta(days=d), d)],
            "k string, bucket_date string, bucket_start timestamp, v long",
        ))
    lo, hi = t0, t0 + timedelta(days=1)
    with _jobs(spark) as built:
        head = cat.read("t")
        past = cat.read("t", as_of=2)
        ranged = cat.read_where_between("t", "bucket_start", lo, hi)
        empty = cat.read_where_between(
            "t", "bucket_start", t0 + timedelta(days=9), t0 + timedelta(days=10))
        days = cat.read_days("t", ["2024-01-03", "2024-01-09"])
        none = cat.read_days("t", ["2024-01-09"])
    assert built == [0]
    for df, want in ((head, 3), (past, 2), (ranged, 2), (empty, 0), (days, 1), (none, 0)):
        assert df.schema == head.schema
        with _jobs(spark) as ran:
            assert df.toArrow().num_rows == want
        assert ran == [1]


def test_incremental_refresh_jobs_do_not_grow_with_history(spark, tmp_path):
    """Each daily incremental refresh adds a snapshot group to every table,
    and its boundary merge reads only the boundary days: the fourth refresh
    runs no more Spark jobs than the first (each used to add one schema
    inference job per group and table, and scan every live partition)."""
    df = spark.createDataFrame(gen_transcripts(n_turns=3_000, n_convs=10, seed=3).to_pandas())
    days = sorted(str(r[0]) for r in df.select(F.to_date("ts")).distinct().collect())
    cat = ParquetManifestCatalog(spark, str(tmp_path / "daily"))
    refresh_tiers(spark, cat, df.filter(F.to_date("ts") <= days[-5]), watermark="wm0",
                  params=PARAMS)
    jobs = []
    for i, (prev, day) in enumerate(zip(days[-5:], days[-4:])):
        with _jobs(spark) as ran:
            refresh_tiers(
                spark, cat, df.filter(F.to_date("ts") <= day), watermark=f"wm{i + 1}",
                since_watermark=f"{prev} 23:59:59.999999", params=PARAMS,
            )
        jobs += ran
    assert jobs[3] <= jobs[0], jobs
