"""A VersionedTable's change feed as a Structured Streaming SOURCE.

The reference's replication story is batch-only: cron re-polls the
source for rows past a high-water mark (all_schedules.py + the
fetchmany loop in base_loader.py), which can never see a DELETE and
re-reads the tracking column every tick. With commit-time change feeds
(`VersionedTable(write_cdf=True)` — the Delta Lake `_change_data`
design, VLDB 2020), the always-on form needs no polling logic at all:

    spark.readStream.format("versioned_cdf")
         .option("path", table_root)
         [.option("starting_version", "3")]
         .load()

Offsets ARE table versions (`{"version": N}`), exactly Delta's
streaming-source design: each micro-batch plans the persisted
`_cdf/v<K>` feed directories for the versions in (start, end] — one
Spark task per feed file, row data moves executor-side, the driver
touches only the latest-pointer and feed listings (metadata). Because
the feed is plain parquet written AT COMMIT TIME, the stream does no
joins and never reads the table itself; a 100-row CDC commit into a
100 TB table streams 100 rows.

Semantics, stated:
  * Rows carry `change_type` ('insert' | 'update' | 'delete'),
    the table columns (delete rows hold the OLD images), and
    `_commit_version`.
  * `starting_version=N` streams changes AFTER version N (exclusive —
    the same cursor convention as VersionedTable.changes_between).
    Default: the table's latest version at stream start (only new
    commits stream).
  * A `_CDF_FULL` marker (overwrite / rollback / promote_types /
    purge redaction — content replaced wholesale, a row feed would be
    O(2 x table) or would retain erased bytes) FAILS the stream
    loudly: re-sync consumers from a snapshot read at that version,
    then restart past it. This is Delta's non-append refusal.
  * Replay safety: feed directories are immutable once committed, so
    a failed micro-batch re-plans byte-identically from checkpointed
    offsets — PROVIDED vacuum retention outlives checkpoint commit
    (vacuum reclaims feeds with their versions; a reclaimed feed
    inside an uncommitted range raises, never silently skips).

Local filesystems only (the reader opens feed files with pyarrow in
the Python worker, no JVM); object-store paths need a mounted FS.

Reference parity anchor: the reference has no streaming replication at
all — this is the engine-native upgrade of its cron incremental
extract (README.md scheduling section), same role, plus deletes.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType

from nomba_data_pipeline_spark import localmeta


def _local(path: str) -> str:
    p = localmeta.local_path(path)
    if p is None:
        raise ValueError(
            f"versioned_cdf reads feed files with pyarrow and supports "
            f"local paths only; got {path!r}"
        )
    return p


def _latest_version(root: str) -> int | None:
    """The committed version pointer — mirroring
    VersionedTable._recover_pointer: when `_latest` is momentarily
    absent (a writer's swap window renames it to `_latest.old-<hex>`
    before moving the new pointer in), read the newest BACKUP instead
    of reporting the table as missing. Without this, a stream that
    starts inside the window would silently pin its cursor at 0 and
    later die on the v1 FULL marker instead of starting at the
    intended latest version."""
    p = os.path.join(root, "_latest")
    if os.path.isdir(p):
        return int(localmeta.read_json_dir(p)["version"])
    if not os.path.isdir(root):
        return None
    best: int | None = None
    for name in os.listdir(root):
        if not name.startswith("_latest.old-"):
            continue
        try:
            v = int(localmeta.read_json_dir(os.path.join(root, name))["version"])
        except localmeta.SIDECAR_ERRORS:
            continue  # a backup removed by the writer's swap completing
        if best is None or v > best:
            best = v
    # a backup holds the PRE-swap version: if `_latest` reappeared
    # while we were listing (the writer's swap completed), prefer it —
    # an initialOffset pinned to the backup would start one commit
    # early and replay the commit that just landed (double-apply for a
    # consumer that also snapshotted at the new version)
    if os.path.isdir(p):
        try:
            cur = int(localmeta.read_json_dir(p)["version"])
            return cur if best is None else max(cur, best)
        except localmeta.SIDECAR_ERRORS:
            pass
    return best


def _nullable_nested(t):
    """Arrow type `t` with every nested field nullable. The feed files
    store nested fields as nullable while the table schema may declare
    them NOT NULL (e.g. a named_struct's fields), and Arrow refuses a
    nullable -> non-nullable cast; Spark does not check nested
    nullability of the batches a data source returns."""
    import pyarrow as pa

    def field(f):
        return f.with_type(_nullable_nested(f.type)).with_nullable(True)

    if pa.types.is_struct(t):
        return pa.struct([field(f) for f in t])
    if pa.types.is_map(t):
        return pa.map_(t.key_field, field(t.item_field))
    if pa.types.is_list(t):
        return pa.list_(field(t.value_field))
    return t


class VersionedCdfDataSource(DataSource):
    """`spark.readStream.format("versioned_cdf").option("path", root)`"""

    @classmethod
    def name(cls) -> str:
        return "versioned_cdf"

    def schema(self):
        root = _local(self.options.get("path") or "")
        if not root:
            raise ValueError("versioned_cdf requires the path option")
        latest = _latest_version(root)
        if latest is None:
            raise ValueError(f"{root} is not a versioned table (no _latest)")
        man = localmeta.read_json_dir(
            os.path.join(root, "_manifests", f"v{latest:08d}")
        )
        base = StructType.fromJson(json.loads(man["schema"]))
        return StructType(
            [StructField("change_type", StringType(), False)]
            + list(base.fields)
            + [StructField("_commit_version", LongType(), False)]
        )

    def streamReader(self, schema):
        return VersionedCdfStreamReader(schema, self.options)


class VersionedCdfStreamReader(DataSourceStreamReader):
    # monotonic floor: offsets must never regress even if the pointer
    # read races a writer's swap window (exists-check returns None)
    _offset_floor: int = -1

    def __init__(self, schema, options):
        self.schema = schema
        self.root = _local(options.get("path") or "")
        if not self.root:
            raise ValueError("versioned_cdf requires the path option")
        sv = options.get("starting_version")
        self._starting = None if sv is None else int(sv)
        # include_preimages=true additionally yields the stored
        # 'update_preimage' rows (an update's OLD image) — what a
        # delete/update-capable aggregate maintainer needs to locate
        # the OLD group of a group-moving update (the same flag as
        # VersionedTable.changes_between(include_preimages=True));
        # default consumers see post-semantics only
        self._preimages = str(
            options.get("include_preimages", "")
        ).lower() in ("true", "1")

    def _cdf_dir(self, v: int) -> str:
        return os.path.join(self.root, "_cdf", f"v{v:08d}")

    def initialOffset(self) -> dict:
        if self._starting is not None:
            return {"version": self._starting}
        latest = _latest_version(self.root)
        if latest is None:
            # not-yet-created table: defaulting to 0 would silently pin
            # the cursor at 0 and fail LATER on the v1 FULL marker —
            # refuse loudly at start instead (pass starting_version
            # explicitly to tail a table that will be created later)
            raise ValueError(
                f"versioned_cdf: {self.root} has no readable version "
                "pointer (table never written?) — create the table "
                "first, or pass starting_version explicitly"
            )
        return {"version": latest}

    def latestOffset(self) -> dict:
        latest = _latest_version(self.root)
        v = latest if latest is not None else 0
        if v > self._offset_floor:
            self._offset_floor = v
        return {"version": self._offset_floor}

    def _committed_versions(self, lo: int, hi: int) -> list[int]:
        """Versions in (lo, hi] ON THE COMMITTED CHAIN, ascending —
        walked via manifest parent pointers, never the integer range: a
        crashed writer leaves an orphan manifest+feed at a version the
        next successful commit skips past, and replaying its feed would
        apply changes that never happened (the same chain-walk contract
        as VersionedTable.changes_between / history)."""
        out: list[int] = []
        v: int | None = hi
        while v is not None and v > lo:
            mp = os.path.join(self.root, "_manifests", f"v{v:08d}")
            if not os.path.isdir(mp):
                raise RuntimeError(
                    f"versioned_cdf: manifest v{v} of {self.root} is "
                    "missing — vacuum retention expired inside the "
                    "uncommitted offset range (retention must outlive "
                    "checkpoint commit), or the end offset was never a "
                    "committed version"
                )
            out.append(v)
            v = localmeta.read_json_dir(mp)["parent"]
        return sorted(out)

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        parts: list[InputPartition] = []
        for v in self._committed_versions(lo, hi):
            d = self._cdf_dir(v)
            if not os.path.isdir(d):
                raise RuntimeError(
                    f"versioned_cdf: no change feed for version {v} of "
                    f"{self.root} — the table is not written with "
                    "write_cdf=True, or vacuum retention expired the feed "
                    "before this micro-batch committed (retention must "
                    "outlive checkpoint commit)"
                )
            names = sorted(os.listdir(d))
            if "_CDF_FULL" in names:
                raise RuntimeError(
                    f"versioned_cdf: version {v} of {self.root} replaced "
                    "table content wholesale (overwrite/rollback/"
                    "promote_types/purge) — the row feed does not span "
                    "it; re-sync from a snapshot read at that version and "
                    "restart the stream with starting_version >= "
                    f"{v}"
                )
            for n in names:
                if n.endswith(".parquet") and not n.startswith((".", "_")):
                    parts.append(InputPartition((v, os.path.join(d, n))))
        return parts

    def read(self, partition):
        """Yield the feed file as Arrow RecordBatches (one Python->JVM
        crossing per batch, no per-row tuples). Column alignment — the
        preimage filter, NULL-fill for columns added after this feed was
        written, the _commit_version constant and the tz-aware ->
        schema-exact timestamp cast — is pyarrow compute over whole
        columns. A feed column whose type cannot be cast to the stream
        schema raises ArrowInvalid / ArrowNotImplementedError and fails
        the micro-batch."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        version, fpath = partition.value
        tbl = pq.read_table(fpath)
        if not self._preimages:
            tbl = tbl.filter(
                pc.not_equal(tbl.column("change_type"), "update_preimage")
            )
        want = pa.schema([f.with_type(_nullable_nested(f.type))
                          for f in to_arrow_schema(self.schema)])
        have = set(tbl.column_names)
        cols = []
        for field in want:
            if field.name == "_commit_version":
                cols.append(
                    pa.array([version] * tbl.num_rows, type=field.type)
                )
            elif field.name in have:
                col = tbl.column(field.name)
                if col.type != field.type:
                    # Spark-written timestamps decode tz-aware UTC; the
                    # declared arrow type may differ only in timestamp
                    # tz/unit (top-level or nested), for which the cast
                    # is exact
                    col = col.cast(field.type)
                cols.append(col)
            else:  # schema evolved after this feed: NULL-fill
                cols.append(pa.nulls(tbl.num_rows, type=field.type))
        yield from pa.table(cols, schema=want).to_batches()

    def commit(self, end: dict) -> None:
        # offsets live in the stream's checkpoint; feed retention is
        # vacuum's policy (see class docstring)
        pass


def register(spark) -> None:
    """Idempotent registration (ships the package to executor workers
    first — same rationale as sources/pyds.register)."""
    from nomba_data_pipeline_spark.shipping import ship_package

    ship_package(spark)
    spark.dataSource.register(VersionedCdfDataSource)
