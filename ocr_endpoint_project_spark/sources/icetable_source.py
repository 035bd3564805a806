"""Icetable as a Spark Python Data Source (Spark 4 `pyspark.sql.datasource`):

    spark.dataSource.register(IcetableDataSource)
    spark.read.format("icetable").option("path", tdir).load()
    spark.readStream.format("icetable").option("path", tdir).load()

The STREAM reader turns the snapshot log into the offset axis — an
offset is simply ``{"snapshot_id": N}``, ``latestOffset`` is the current
table head, and each micro-batch plans exactly the data files ADDED by
the snapshots in ``(start, end]`` (the same manifest-list diff as
``IceTable.incremental_scan``).  Spark's checkpoint persists the offset,
so a restarted query resumes from the last committed snapshot with
exactly-once file accounting — the Iceberg streaming-read contract.

Scale shape: ``partitions()`` is driver-side METADATA work (manifest
diffs, file lists — bytes per file, never data); each data file becomes
one ``InputPartition`` read executor-side with pyarrow and yielded as
Arrow record batches (zero row-by-row Python).  A 1000-executor cluster
fans the file list out exactly like a native parquet scan.

Rows carry ``_commit_snapshot_id`` (the snapshot that added the file) in
both batch and stream mode, so downstream audit/replay logic can group
by commit without a join against the metadata.

Append-only streams are the contract (Iceberg's streaming read has the
same rule): an overwrite/expire snapshot in the range raises unless
``skipNonAppend`` is set, in which case its file diff is skipped whole.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StructField, StructType

from .icetable import IceTable

META_COL = "_commit_snapshot_id"


def _local_path(path: str) -> str:
    """The Python Data Source moves bytes with pyarrow + os in plain
    Python workers (no JVM FS client there), so table paths must be
    host-local: plain paths pass through, ``file:`` URIs are stripped
    to their POSIX form, other schemes get a clear error pointing at
    the JVM read path (``IceTable.scan``), which supports any Hadoop
    FileSystem."""
    import re

    if re.match(r"^file://[^/]", path):
        # a non-empty authority (file://host/...) is not a local path
        raise NotImplementedError(
            f"file URI with a host component is not local: {path!r}"
        )
    if re.match(r"^file:/", path):
        return re.sub(r"^file:/+", "/", path)
    if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:/", path):
        raise NotImplementedError(
            f"icetable python data source needs a local/file: path, got {path!r}; "
            "use IceTable.scan (JVM parquet reader) for hdfs:/s3a: tables"
        )
    return path


def register_icetable(spark) -> None:
    """Register the data source AND enable Python filter pushdown: Spark
    hard-fails any reader that implements ``pushFilters`` while
    ``spark.sql.python.filterPushdown.enabled`` is false (it is false by
    default and runtime-settable), so registration owns the conf."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(IcetableDataSource)


@dataclass
class IceFilePartition(InputPartition):
    """One data file; picklable, self-contained (executors never touch
    table metadata)."""

    path: str            # absolute path to the parquet file
    part_col: str | None
    part_value: str | None
    snapshot_id: int


def _table_schema(table_dir: str) -> StructType:
    # the data source's python processes have no JVM gateway: always
    # address the table by its local path form
    meta = IceTable.load(_local_path(table_dir)).metadata()
    if meta.get("schema") is None:
        raise ValueError(
            f"icetable at {table_dir} has no committed schema (empty table?)"
        )
    schema = StructType.fromJson(meta["schema"])
    # schema evolution null-fills later-added columns from old files, so
    # every data field must read as nullable regardless of how the writer
    # frame declared it (a non-null writer schema + a null-filled old file
    # would NPE inside Spark's row conversion)
    fields = [StructField(f.name, f.dataType, True) for f in schema.fields]
    return StructType(fields + [StructField(META_COL, LongType(), False)])


def _convert_part_value(schema: StructType, name: str, raw: str | None):
    if raw is None:
        return None
    kind = schema[name].dataType.simpleString()
    if kind in ("int", "bigint", "smallint", "tinyint"):
        return int(raw)
    if kind in ("double", "float"):
        return float(raw)
    return raw


def _read_file_batches(part: IceFilePartition, schema: StructType):
    """Executor-side: one parquet file -> Arrow batches in schema order,
    partition + snapshot columns appended as constants."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    tbl = pq.read_table(_local_path(part.path))
    n = tbl.num_rows
    cols = []
    for i, field in enumerate(schema.fields):
        at = target.field(i).type
        if field.name == META_COL:
            cols.append(pa.array([part.snapshot_id] * n, type=at))
        elif part.part_col is not None and field.name == part.part_col:
            v = _convert_part_value(schema, field.name, part.part_value)
            cols.append(pa.array([v] * n, type=at))
        elif field.name in tbl.column_names:
            cols.append(tbl[field.name].combine_chunks().cast(at))
        else:
            # schema evolution: a column added after this file was written
            cols.append(pa.nulls(n, type=at))
    out = pa.table(cols, schema=target)
    yield from out.to_batches(max_chunksize=8192)


def _file_partitions(
    table_dir: str, snaps: list[dict], t: IceTable, skip_non_append: bool
) -> list[IceFilePartition]:
    meta = t.metadata()
    pcol = meta["partition_col"]
    parts: list[IceFilePartition] = []
    for s in snaps:
        if s["operation"] != "append":
            if skip_non_append:
                continue
            raise ValueError(
                f"icetable stream crossed non-append snapshot "
                f"{s['snapshot_id']} ({s['operation']}); set skipNonAppend "
                "or reprocess via changelog_scan"
            )
        added, _removed = t._file_diff(meta, s)
        for e in added:
            parts.append(
                IceFilePartition(
                    path=os.path.join(table_dir, e["path"]),
                    part_col=pcol,
                    part_value=e["partition"],
                    snapshot_id=s["snapshot_id"],
                )
            )
    return parts


class IcetableBatchReader(DataSourceReader):
    """Batch scan with FILTER PUSHDOWN into the metadata layer: equality
    / IN predicates on the partition column prune whole manifests, and
    range predicates on stat columns skip files by their footer
    [min,max] — both before Spark ever enumerates a file.  Pruning is
    conservative (a kept file may still hold non-matching rows), so
    every filter is returned for Spark to re-apply; the pushdown only
    shrinks I/O, never changes semantics."""

    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._table_dir = _local_path(options["path"])
        meta = IceTable.load(self._table_dir).metadata()
        self._pcol = meta["partition_col"]
        self._stat_cols = set(meta["stat_cols"] or [])
        self._part_values: set | None = None
        self._ranges: dict[str, list] = {}  # col -> [lo, hi]

    def pushFilters(self, filters):
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        def _narrow(col, lo=None, hi=None):
            r = self._ranges.setdefault(col, [None, None])
            if lo is not None:
                r[0] = lo if r[0] is None else max(r[0], lo)
            if hi is not None:
                r[1] = hi if r[1] is None else min(r[1], hi)

        for f in filters:
            col = f.attribute[-1] if len(getattr(f, "attribute", ())) == 1 else None
            if col == self._pcol and isinstance(f, EqualTo):
                vals = {f.value}
                self._part_values = (
                    vals if self._part_values is None else self._part_values & vals
                )
            elif col == self._pcol and isinstance(f, In):
                vals = set(f.values)
                self._part_values = (
                    vals if self._part_values is None else self._part_values & vals
                )
            elif col in self._stat_cols and isinstance(f, EqualTo):
                _narrow(col, lo=f.value, hi=f.value)
            elif col in self._stat_cols and isinstance(
                f, (GreaterThan, GreaterThanOrEqual)
            ):
                _narrow(col, lo=f.value)
            elif col in self._stat_cols and isinstance(
                f, (LessThan, LessThanOrEqual)
            ):
                _narrow(col, hi=f.value)
        return filters  # pruning only — Spark re-evaluates everything

    def partitions(self):
        t = IceTable.load(self._table_dir)
        meta = t.metadata()
        pcol = meta["partition_col"]
        # attribute each live file to the snapshot that ADDED it: walk the
        # history once, first snapshot containing a path wins (metadata
        # only — file lists, never data)
        first_seen: dict[str, int] = {}
        for s in meta["snapshots"]:
            for m in t._manifest_list_for(meta, s["snapshot_id"]):
                from .icetable import _read_json

                for e in _read_json(os.path.join(t.meta_dir, m["name"])):
                    first_seen.setdefault(e["path"], s["snapshot_id"])
        planned = t.plan_files(
            partition_values=self._part_values,
            stats_ranges={c: (lo, hi) for c, (lo, hi) in self._ranges.items()}
            or None,
        )
        return [
            IceFilePartition(
                path=os.path.join(self._table_dir, e["path"]),
                part_col=pcol,
                part_value=e["partition"],
                snapshot_id=first_seen.get(e["path"], meta["current_snapshot_id"]),
            )
            for e in planned
        ]

    def read(self, partition: IceFilePartition):
        yield from _read_file_batches(partition, self._schema)


class IcetableStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options):
        self._schema = schema
        self._table_dir = _local_path(options["path"])
        self._start = int(options.get("startingsnapshotid", 0))
        self._skip_non_append = str(
            options.get("skipnonappend", "false")
        ).lower() in ("true", "1")
        # backpressure: a micro-batch consumes at most this many
        # snapshots, so batches stay bounded in steady state (the analog
        # of maxFilesPerTrigger for file streams). For CONTINUOUS
        # triggers only: Trigger.AvailableNow reads latestOffset once,
        # so the cap would bound the whole run, not each batch.
        # CAVEAT: the FIRST latestOffset of a (re)started query is
        # uncapped — the runner calls it before initialOffset/partitions
        # can reveal the true base, and capping from the stale _start
        # base could emit an offset BELOW a restarted query's
        # checkpointed start (offset regression => replayed snapshots)
        self._max_snaps = int(options.get("maxsnapshotspertrigger", 0)) or None
        self._last_end = self._start
        # the cap base is trustworthy only once we have seen a
        # checkpoint-derived offset (partitions()/commit() carry one); a
        # fresh reader instance after a query RESTART starts from
        # startingsnapshotid, and capping from that stale base could emit
        # an offset BELOW the checkpointed start — Spark would record the
        # regressed offset and re-plan already-processed snapshots
        self._cap_base_known = False

    def initialOffset(self) -> dict:
        # called only for a brand-new query (no checkpoint): _start IS
        # the true cap base
        self._cap_base_known = True
        return {"snapshot_id": self._start}

    def latestOffset(self) -> dict:
        meta = IceTable.load(self._table_dir).metadata()
        cur = meta["current_snapshot_id"]
        head = int(cur) if cur is not None else self._start
        if self._max_snaps is not None and self._cap_base_known:
            head = min(head, self._last_end + self._max_snaps)
        # never regress: an offset below the last end seen would break
        # the monotone-offset contract
        head = max(head, self._last_end)
        self._last_end = max(self._last_end, head)
        return {"snapshot_id": head}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["snapshot_id"], end["snapshot_id"]
        # restart sync: the checkpointed start may be past our cap base
        self._last_end = max(self._last_end, lo)
        self._cap_base_known = True
        if hi <= lo:
            return []
        t = IceTable.load(self._table_dir)
        meta = t.metadata()
        snaps = [
            s for s in meta["snapshots"] if lo < s["snapshot_id"] <= hi
        ]
        return _file_partitions(self._table_dir, snaps, t, self._skip_non_append)

    def read(self, partition: IceFilePartition):
        yield from _read_file_batches(partition, self._schema)

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint; nothing table-side to do —
        # but the committed end is a valid cap base, so sync it
        self._last_end = max(self._last_end, end["snapshot_id"])
        self._cap_base_known = True


class IcetableDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "icetable"

    def schema(self) -> StructType:
        return _table_schema(self.options["path"])

    def reader(self, schema: StructType) -> IcetableBatchReader:
        return IcetableBatchReader(schema, self.options)

    def streamReader(self, schema: StructType) -> IcetableStreamReader:
        return IcetableStreamReader(schema, self.options)
