"""Storage catalog: the engine's one catalog, Iceberg's copy-on-write table
semantics on plain parquet.

:class:`ParquetManifestCatalog` implements the table-format semantics the
engine uses (Iceberg's `overwritePartitions`, metadata-only `DELETE WHERE`,
snapshots and time travel, `expireSnapshots`) from scratch on plain parquet,
following the published lakehouse copy-on-write design (immutable data
files + an atomically-swapped metadata pointer):

- **layout**: every table is partitioned on ``bucket_date``, and every
  commit writes its partitions into a FRESH snapshot directory
  ``root/<name>/data/s<id>/bucket_date=<day>/*.parquet`` — data files are
  immutable once written, never modified in place
- **commit point**: an atomic manifest swap (`os.replace`) appends the
  snapshot record to ``root/<name>/_manifest.json`` with per-partition
  lineage + metrics (rows, bytes, wall_s, input_watermark) and the
  partition's footer ``bucket_start`` bounds. A crash before
  the swap leaves an orphan directory invisible to every reader (healed by
  the idempotent rerun, reclaimed by ``expire_snapshots``; a write's
  ``root/_staging`` is cleared by the next write) — true snapshot
  isolation, not best-effort
- **overwrite_grouped**: the one write. Several tables' partitions go out
  in ONE Spark write, staged under the catalog root; each table's directory
  is then moved into its fresh snapshot directory and committed. Only
  partitions present in the incoming DataFrame advance to the new snapshot;
  all others keep pointing at their prior snapshot's files (Iceberg
  ``overwritePartitions`` semantics). Because the write never touches
  existing files, read-modify-write refreshes need no defensive
  materialization. ``overwrite_partitions`` is its one-table call
- **column mapping**: a commit may store a column under a physical name
  and record the physical -> logical map in its snapshot record's
  ``columns`` field (Delta Lake / Iceberg column mapping); reads rename per
  snapshot, so tables that store different physical names share one write
- **time travel**: ``read(table, as_of=snapshot_id)`` reconstructs any
  historical state by folding the manifest up to that snapshot (an unknown
  or expired snapshot raises ``ValueError``)
- **retention**: ``delete_where_older`` is metadata-only (days drop out of
  the live set; files stay until vacuumed) — the Iceberg ``DELETE WHERE``
  partition-predicate fast path
- **data skipping**: ``read_where_between`` scans only the partitions
  whose committed bounds overlap the range; a range that overlaps none is
  an empty frame that scans nothing
- **metadata-planned reads**: a read loads the manifest once and takes
  each snapshot group's schema from one of its parquet footers on the
  driver (as Delta Lake and Iceberg plan scans from table metadata), so
  building a ``read``, ``read_days`` or ``read_where_between`` frame runs
  no Spark job; Spark's own schema inference would run one job per group
- **vacuum**: ``expire_snapshots`` physically reclaims files no reachable
  snapshot references (Iceberg ``expireSnapshots`` + orphan-file removal)
- **incremental refresh**: callers compute only changed partitions (from
  the input watermark recorded in the last snapshot) and overwrite those.

The manifest holds three ops: ``overwrite_partitions``,
``retention_delete`` and ``expire_snapshots``. Records written before the
layout was fixed also name their ``partition_col``; the fold accepts
``bucket_date`` there and raises on any other.

Single-writer-per-table is assumed (as with Iceberg's optimistic locking,
concurrent writers need a coordinating catalog service; at 100 TB that is
the metastore's job). Readers are always consistent: they see whichever
manifest version their fold started from.

A future backend on a real Iceberg runtime must implement every call that
``refresh_tiers``, ``apply_retention`` and perfbench make on this class,
and must come with a test lane that runs.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import ArrayType, DataType, DateType, MapType, StructField, StructType


# The one layout: every table is partitioned by day, and every commit records
# footer bounds of the bucket start (metadata-only time-range skipping).
PARTITION_COL = "bucket_date"
STATS_COL = "bucket_start"


def _json_stat(v):
    """Bound value -> JSON-storable, order-preserving value (datetimes to
    ISO strings — lexicographic order matches chronological for ISO
    timestamps)."""
    return v.isoformat() if hasattr(v, "isoformat") else v


def _instant(v) -> datetime:
    """An ISO string or a ``datetime`` as a UTC instant; naive values are
    UTC, the session zone ``FILE_CONF`` fixes."""
    t = datetime.fromisoformat(v) if isinstance(v, str) else v
    return t if t.tzinfo else t.replace(tzinfo=timezone.utc)


def _as_nullable(t: DataType) -> DataType:
    """``t`` with every field, element and value nullable, as Spark reads
    any parquet file (Scala's ``DataType.asNullable``)."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType)) for f in t])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType))
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType))
    return t


def _footer_schema(pdir: str) -> StructType:
    """The schema Spark infers for a read of partition directory ``pdir``
    with ``basePath`` at its snapshot directory, from one parquet footer
    read on the driver: the file's columns, every one nullable, then
    ``bucket_date`` as a date (Spark infers ``YYYY-MM-DD`` partition values
    as dates)."""
    import pyarrow.parquet as pq

    f = next(f for f in sorted(os.listdir(pdir)) if f.endswith(".parquet"))
    schema = _as_nullable(from_arrow_schema(pq.read_schema(os.path.join(pdir, f))))
    return schema.add(PARTITION_COL, DateType())


class ParquetManifestCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---------- paths / manifest ----------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _data_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "data")

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_manifest.json")

    def _load_manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"table": table, "snapshots": []}

    def _append_snapshot(self, table: str, op: str, partitions: dict, **extra) -> dict:
        m = self._load_manifest(table)
        snap = {
            "snapshot_id": (m["snapshots"][-1]["snapshot_id"] + 1) if m["snapshots"] else 1,
            "op": op,
            "committed_at": datetime.now(timezone.utc).isoformat(),
            "partitions": partitions,
            **extra,
        }
        m["snapshots"].append(snap)
        os.makedirs(self._table_dir(table), exist_ok=True)
        tmp = self._manifest_path(table) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path(table))  # atomic commit point
        return snap

    def _snap_dir(self, table: str, snapshot_id: int) -> str:
        return os.path.join(self._data_dir(table), f"s{snapshot_id}")

    def _part_dir(self, table: str, snapshot_id: int, pval: str) -> str:
        return os.path.join(self._snap_dir(table, snapshot_id), f"{PARTITION_COL}={pval}")

    def current_snapshot(self, table: str) -> dict | None:
        snaps = self._load_manifest(table)["snapshots"]
        return snaps[-1] if snaps else None

    @staticmethod
    def _fold(snaps: list, as_of: int | None = None) -> dict:
        """Day -> lineage record at snapshot ``as_of`` (None = head).

        ``expire_snapshots`` is physical-only and does not change state. Any
        other op raises ``ValueError``: an older version of this catalog
        also wrote ``compact``, ``base``, ``rollback`` and ``tag`` records,
        and skipping one would fold to a wrong live set. So does a record
        partitioned on anything but ``bucket_date``, which an older version
        could also write: its values are not days.
        """
        live: dict = {}
        for snap in snaps:
            if as_of is not None and snap["snapshot_id"] > as_of:
                break
            pcol = snap.get("partition_col", PARTITION_COL)
            if pcol != PARTITION_COL:
                raise ValueError(
                    f"snapshot {snap['snapshot_id']}: partitioned on {pcol!r},"
                    f" not {PARTITION_COL!r}"
                )
            op = snap["op"]
            if op == "overwrite_partitions":
                for p, rec in snap["partitions"].items():
                    live[p] = {**rec, "snapshot_id": snap["snapshot_id"]}
            elif op == "retention_delete":
                for p in snap["partitions"]:
                    live.pop(p, None)
            elif op != "expire_snapshots":
                raise ValueError(
                    f"snapshot {snap['snapshot_id']}: unknown manifest op {op!r}"
                )
        return live

    def committed_partitions(self, table: str, as_of: int | None = None) -> dict:
        """Live partition -> lineage record, folding snapshots up to
        ``as_of`` (default: current state). A past state stays readable
        until ``expire_snapshots`` reclaims its files; ``keep_last``
        protects the last states. An unknown ``as_of`` raises ``ValueError``."""
        return self._committed(table, self._load_manifest(table)["snapshots"], as_of)

    @classmethod
    def _committed(cls, table: str, snaps: list, as_of: int | None) -> dict:
        """:meth:`committed_partitions` of an already loaded manifest."""
        if as_of is not None and as_of not in {s["snapshot_id"] for s in snaps}:
            raise ValueError(f"{table}: no snapshot {as_of} in the manifest")
        return cls._fold(snaps, as_of)

    def input_watermark(self, table: str) -> str | None:
        for snap in reversed(self._load_manifest(table)["snapshots"]):
            wm = snap.get("input_watermark")
            if wm:
                return wm
        return None

    # ---------- data ops ----------
    def overwrite_partitions(
        self,
        table: str,
        df: DataFrame,
        input_watermark: str | None = None,
    ) -> dict | None:
        """:meth:`overwrite_grouped` of one table: copy-on-write overwrite of
        the ``bucket_date`` partitions present in ``df``. Returns the
        snapshot record, or None (nothing committed) when ``df`` is empty."""
        return self.overwrite_grouped(
            {0: table}, df.withColumn("_grain", F.lit(0)), input_watermark
        ).get(table)

    def overwrite_grouped(
        self,
        tables: dict,
        df: DataFrame,
        input_watermark: str | None,
        columns: dict | None = None,
    ) -> dict:
        """Copy-on-write overwrite of several tables' ``bucket_date``
        partitions in ONE Spark write, then one atomic manifest commit per
        table. ``df`` carries ``bucket_date`` and ``_grain``; ``tables`` maps
        each ``_grain`` value to its table, and ``columns`` maps a table to
        the physical -> logical column map its snapshots record (e.g.
        ``{"dim_value": "role"}``; reads return the logical names).

        Rows are hash-distributed on (``_grain``, ``bucket_date``) (Iceberg's
        hash distribution-mode), so each table's partition lands in one task
        and one file; without it every task writes a file into every
        partition it holds rows for (measured: 14k files for 8k
        day-partitions at 8 cores). The trade: a single huge day writes
        through one task, while tier tables are small per day.

        They are written with ``partitionBy("_grain", "bucket_date")`` into
        ``<root>/_staging`` (no defensive checkpoint: existing files are never
        touched, so a refresh may read a table it overwrites). Each
        ``_grain=<value>`` directory is then renamed into its table's fresh
        snapshot directory and committed in ``tables`` order, with footer
        row/byte metrics and ``bucket_start`` bounds (no second scan). A crash
        between two tables leaves the earlier ones committed, as a sequence
        of per-table writes would. The staging directory is removed on
        success and on failure; one left by a killed process is invisible to
        readers and cleared by the next write, as :meth:`_new_snap_dir`
        clears a crashed snapshot directory.

        Returns ``{table: snapshot}`` for the tables that received rows; a
        table with no rows in ``df`` is not committed.
        """
        t0 = time.time()
        stage = os.path.join(self.root, "_staging")
        shutil.rmtree(stage, ignore_errors=True)
        try:
            n = 2 * self.spark.sparkContext.defaultParallelism
            (
                df.repartition(n, "_grain", "bucket_date")
                .write.mode("overwrite")
                .partitionBy("_grain", "bucket_date")
                .parquet(stage)
            )
            wall = time.time() - t0
            out = {}
            for value, table in tables.items():
                gdir = os.path.join(stage, f"_grain={value}")
                if not os.path.isdir(gdir):
                    continue
                sdir = self._new_snap_dir(table)
                os.makedirs(os.path.dirname(sdir), exist_ok=True)
                os.replace(gdir, sdir)
                out[table] = self._commit_written(
                    table, sdir, wall, input_watermark, (columns or {}).get(table)
                )
            return out
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    def _new_snap_dir(self, table: str) -> str:
        """Directory of the table's next snapshot, emptied.

        A crashed (uncommitted) attempt may have left files at this same
        snapshot id. mode=overwrite alone is not enough to clear them when
        the session runs with partitionOverwriteMode=dynamic (only the
        partitions present in the new data would be replaced, and the footer
        scan of the commit would then commit the stale leftovers) — remove
        the whole uncommitted dir first.
        """
        m = self._load_manifest(table)
        sid = (m["snapshots"][-1]["snapshot_id"] + 1) if m["snapshots"] else 1
        sdir = self._snap_dir(table, sid)
        if os.path.isdir(sdir):
            shutil.rmtree(sdir, ignore_errors=True)
        return sdir

    def _commit_written(
        self,
        table: str,
        sdir: str,
        wall: float,
        input_watermark: str | None,
        columns: dict | None,
    ) -> dict:
        """Commit the ``bucket_date=<day>`` directories written under
        ``sdir`` (the table's next snapshot directory) as one snapshot, with
        per-partition metrics and ``bucket_start`` bounds read from the
        parquet footers, and the physical -> logical ``columns`` map if
        any."""
        import pyarrow.parquet as pq

        # Per-partition metrics from parquet footers. The reads are
        # I/O-bound metadata fetches and a commit can touch thousands of
        # day partitions (heavy-tailed histories), so they run on a thread
        # pool — sequential footer opens would serialize the commit on
        # object storage latency.
        def _part_metrics(d: str):
            pval = d.split("=", 1)[1]
            pdir = os.path.join(sdir, d)
            files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
            rec = {
                "rows": 0,
                "bytes": int(sum(
                    os.path.getsize(os.path.join(pdir, f)) for f in files
                )),
                "wall_s": round(wall, 3),
                "input_watermark": input_watermark,
            }
            ranges = []
            for f in files:
                md = pq.ParquetFile(os.path.join(pdir, f)).metadata
                rec["rows"] += md.num_rows
                # Iceberg-style column bounds from parquet row-group
                # footers — metadata only, no data pages read
                if STATS_COL in md.schema.names:
                    i = md.schema.names.index(STATS_COL)
                    ranges += [md.row_group(g).column(i).statistics
                               for g in range(md.num_row_groups)]
            ranges = [st for st in ranges if st is not None and st.has_min_max]
            if ranges:
                rec["stats"] = {STATS_COL: [min(_json_stat(st.min) for st in ranges),
                                            max(_json_stat(st.max) for st in ranges)]}
            return pval, rec

        dirs = [
            d for d in sorted(os.listdir(sdir))
            if d.startswith(f"{PARTITION_COL}=")
        ]
        with ThreadPoolExecutor(max_workers=16) as pool:
            parts = dict(pool.map(_part_metrics, dirs))
        return self._append_snapshot(
            table, "overwrite_partitions", parts, input_watermark=input_watermark,
            **({"columns": columns} if columns else {}),
        )

    def read(self, table: str, as_of: int | None = None) -> DataFrame:
        """Snapshot-consistent read; ``as_of`` time-travels to a historical
        snapshot id; one whose files ``expire_snapshots`` reclaimed raises
        ``ValueError`` (one directory test per live partition).

        Planned from one manifest load and one parquet footer per snapshot
        group (:meth:`_read_live`): building the frame runs no Spark job.
        """
        snaps = self._load_manifest(table)["snapshots"]
        live = self._committed(table, snaps, as_of)
        if not live:
            raise ValueError(f"{table}: no committed partitions"
                             + (f" at snapshot {as_of}" if as_of else ""))
        if as_of is not None:
            for pval, rec in sorted(live.items()):
                if not os.path.isdir(self._part_dir(table, rec["snapshot_id"], pval)):
                    raise ValueError(f"{table}: snapshot {as_of} is expired ({pval} reclaimed)")
        return self._read_live(table, snaps, live)

    def read_days(self, table: str, days: list[str]) -> DataFrame:
        """The head's live partitions among ``days`` (a day that is not
        live is skipped), planned like :meth:`read`. With none of them live
        it is an empty frame with the table's schema, which scans nothing."""
        snaps = self._load_manifest(table)["snapshots"]
        head = self._fold(snaps)
        live = {d: head[d] for d in days if d in head}
        return self._read_live(table, snaps, live or head, scan=bool(live))

    def _read_live(self, table: str, snaps: list, live: dict, scan: bool = True) -> DataFrame:
        """Read an explicit live-partition map of ``table``'s manifest
        ``snaps``, grouped by owning snapshot directory.

        Each group is read with ``basePath`` so the ``bucket_date``
        partition column survives, and with the schema of ONE of its
        parquet footers, read on the driver (a snapshot is one Spark write,
        so all its files share it): Spark then infers nothing, and building
        the frame runs no job — inference would run one per group. Spark
        still lists a group of more than 32 day directories (its
        ``parallelPartitionDiscovery.threshold``) with a job. The footer
        schema is what Spark infers from the same file: every field
        nullable, ``bucket_date`` a date appended last. Each group's files
        are renamed by its snapshot's recorded ``columns`` map, so partitions
        that store different physical names read as one column. With
        ``scan=False`` every group is an empty frame of that schema: the
        schema of the read, with no file listed or scanned by Spark.
        """
        if not live:
            raise ValueError(f"{table}: no committed partitions")
        mapped = {s["snapshot_id"]: s["columns"] for s in snaps if s.get("columns")}
        groups: dict[int, list] = {}
        for pval, rec in live.items():
            groups.setdefault(rec["snapshot_id"], []).append(pval)
        out = None
        for sid in sorted(groups):
            paths = [self._part_dir(table, sid, pval) for pval in groups[sid]]
            schema = _footer_schema(paths[0])
            if scan:
                part = (
                    self.spark.read.schema(schema)
                    .option("basePath", self._snap_dir(table, sid))
                    .parquet(*paths)
                )
            else:
                part = self.spark.createDataFrame([], schema)
            if sid in mapped:
                part = part.withColumnsRenamed(mapped[sid])
            # allowMissingColumns = schema evolution: files written before a
            # column was added null-fill it (Iceberg add-column semantics)
            out = part if out is None else out.unionByName(
                part, allowMissingColumns=True
            )
        return out

    @staticmethod
    def _overlapping(live: dict, col: str, lo, hi) -> dict:
        """The partitions of ``live`` whose recorded ``col`` bounds overlap
        [lo, hi], or that record no bounds for ``col``."""
        lo, hi = _instant(lo), _instant(hi)
        out = {}
        for pval, rec in live.items():
            bounds = (rec.get("stats") or {}).get(col)
            if bounds is None or not (hi < _instant(bounds[0]) or lo > _instant(bounds[1])):
                out[pval] = rec
        return out

    def pruned_partitions(self, table: str, col: str, lo, hi) -> dict:
        """Live partitions whose manifest [min, max] bounds for ``col``
        overlap [lo, hi] — METADATA-ONLY data skipping (the Iceberg
        lower_bounds/upper_bounds trick at partition granularity).
        Commits record bounds for ``bucket_start`` only; a partition without
        recorded bounds for ``col`` (no such column, or only NULLs in it) is
        conservatively kept. Bounds (ISO strings with ``+00:00``) and
        ``lo``/``hi`` compare as UTC instants, not as strings."""
        return self._overlapping(self.committed_partitions(table), col, lo, hi)

    def read_where_between(self, table: str, col: str, lo, hi) -> DataFrame:
        """Range read with manifest-bounds pruning: only partitions whose
        committed ``col`` bounds overlap [lo, hi] are scanned (the residual
        row filter still applies — bounds are partition-coarse). At 100 TB
        a needle query touches the handful of overlapping partitions'
        files instead of the table.

        Planned like :meth:`read` from the same manifest load that prunes,
        so building the frame runs no Spark job. When no partition
        overlaps, it is an empty frame with the table's schema, which scans
        nothing."""
        snaps = self._load_manifest(table)["snapshots"]
        head = self._fold(snaps)
        live = self._overlapping(head, col, lo, hi)
        if not live:
            return self._read_live(table, snaps, head, scan=False)
        return self._read_live(table, snaps, live).filter(F.col(col).between(lo, hi))

    def verify_table(self, table: str) -> dict:
        """Anti-entropy audit: reconcile the manifest's committed state
        against the files actually on disk, METADATA-ONLY (directory
        listings + parquet footer row counts — no data pages).

        Returns ``{"ok": bool, "partitions": n, "issues": [...]}`` where
        issues name missing partition directories, partitions with zero
        parquet files, and row-count mismatches vs the manifest. The
        check a 100 TB deployment runs after restores/migrations before
        trusting a table — and the cheap invariant a resume path can
        assert. The benchmark's rebuild check calls it on every table.
        """
        import pyarrow.parquet as _pq

        issues = []
        live = self.committed_partitions(table)
        for pval, rec in sorted(live.items()):
            pdir = self._part_dir(table, rec["snapshot_id"], pval)
            if not os.path.isdir(pdir):
                issues.append(f"{pval}: missing directory {pdir}")
                continue
            files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
            if not files:
                issues.append(f"{pval}: no parquet files in {pdir}")
                continue
            rows = sum(
                _pq.ParquetFile(os.path.join(pdir, f)).metadata.num_rows
                for f in files
            )
            if rows != rec["rows"]:
                issues.append(
                    f"{pval}: manifest says {rec['rows']} rows, files hold {rows}"
                )
        return {"ok": not issues, "partitions": len(live), "issues": issues}

    def delete_where_older(self, table: str, cutoff: str) -> dict:
        """Retention expiry: drop whole day partitions before ``cutoff``.

        Partition-predicate delete — METADATA-ONLY (the Iceberg
        ``DELETE WHERE`` fast path): expired partitions leave the live set
        at the manifest commit; their immutable files remain until
        ``expire_snapshots`` vacuums them, so prior snapshots stay
        time-travel-readable.
        """
        dropped = {
            pval: {"rows": 0, "bytes": 0, "wall_s": 0.0}
            for pval in sorted(self.committed_partitions(table))
            if pval < cutoff
        }
        return self._append_snapshot(table, "retention_delete", dropped, cutoff=cutoff)

    def expire_snapshots(self, table: str, keep_last: int = 0) -> dict:
        """Vacuum: physically delete files no reachable state references.

        Reachable = the current live state, plus the states at each of the
        last ``keep_last`` snapshots (kept time-travel-readable). Also
        reclaims orphan directories from crashed, never-committed writes.
        Time travel to anything older stops working — Iceberg
        ``expireSnapshots`` semantics. This is the only code that frees the
        files of partitions dropped by :meth:`delete_where_older` or
        superseded by later commits, and those of crashed commits.
        """
        snaps = self._load_manifest(table)["snapshots"]
        committed_ids = [s["snapshot_id"] for s in snaps]
        keep_states = [None] + (committed_ids[-keep_last:] if keep_last > 0 else [])
        referenced = set()
        for as_of in keep_states:
            for pval, rec in self._fold(snaps, as_of).items():
                referenced.add((rec["snapshot_id"], pval))
        removed = 0
        data = self._data_dir(table)
        if os.path.isdir(data):
            for d in sorted(os.listdir(data)):
                if not (d.startswith("s") and d[1:].isdigit()):
                    continue
                sid = int(d[1:])
                sdir = os.path.join(data, d)
                if sid > (committed_ids[-1] if committed_ids else 0):
                    shutil.rmtree(sdir)  # orphan of a crashed commit
                    removed += 1
                    continue
                for pd_ in sorted(os.listdir(sdir)):
                    if "=" not in pd_:
                        continue
                    if (sid, pd_.split("=", 1)[1]) not in referenced:
                        shutil.rmtree(os.path.join(sdir, pd_))
                        removed += 1
                if not any("=" in e for e in os.listdir(sdir)):
                    shutil.rmtree(sdir)
        return self._append_snapshot(
            table, "expire_snapshots", {}, removed_dirs=removed, keep_last=keep_last
        )

    def retention_cutoff(self, table: str) -> str | None:
        """Latest retention cutoff recorded for the table (max over all
        ``retention_delete`` snapshots), or None if retention never ran.
        Writers consult this to avoid re-creating expired partitions."""
        cutoffs = [
            s["cutoff"] for s in self._load_manifest(table)["snapshots"]
            if s["op"] == "retention_delete"
        ]
        return max(cutoffs) if cutoffs else None

    def manifest_df(self, table: str) -> DataFrame:
        """The manifest as a DataFrame, one row per (snapshot, partition),
        for SQL over lineage/metrics: the checkpoint/resume manifest table
        of (partition, snapshot_id, rows, bytes, wall_s)."""
        recs = []
        for snap in self._load_manifest(table)["snapshots"]:
            for pval, rec in snap["partitions"].items():
                recs.append(
                    {
                        "table_name": table,
                        "partition_value": pval,
                        "snapshot_id": snap["snapshot_id"],
                        "op": snap["op"],
                        "input_watermark": rec.get("input_watermark"),
                        "rows": rec.get("rows", 0),
                        "bytes": rec.get("bytes", 0),
                        "wall_s": float(rec.get("wall_s", 0.0)),
                        "committed_at": snap["committed_at"],
                    }
                )
        if not recs:
            return self.spark.createDataFrame(
                [],
                "table_name string, partition_value string, snapshot_id long,"
                " op string, input_watermark string, rows long, bytes long,"
                " wall_s double, committed_at string",
            )
        return self.spark.createDataFrame(recs)


def with_bucket_date(df: DataFrame) -> DataFrame:
    """The partition column: calendar date of ``bucket_start``."""
    return df.withColumn(PARTITION_COL, F.to_date(F.col(STATS_COL)))
