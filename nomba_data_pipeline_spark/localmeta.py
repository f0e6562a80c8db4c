"""Local parquet metadata: the driver-side reads that cost no Spark job.

The engine reads its own table metadata on every run — the incremental
high-water mark, row counts, per-file manifest stats and the 1-row JSON
sidecars (version pointers, manifests, view state). On a local
filesystem all of that is a parquet footer or a tiny parquet file that
pyarrow answers in microseconds; elsewhere the caller goes through
Spark. This module is the one place that decides:

  * whether a path is local (`local_path`),
  * which column types have exact footer min/max (`exact_stats`),
  * what a footer says about a file (`read_footer`, `read_footers`),
  * the sidecar directory layout and the JSON sidecar format
    (`write_sidecar_dir`, `read_sidecar_dir`, `json_table`,
    `json_payload`).

It imports no Spark: the versioned_cdf stream reader runs it inside
Python data-source workers.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import glob
import json
import os
import uuid
from typing import NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq

# What reading a missing, damaged or half-written sidecar raises on a
# local filesystem: OS / pyarrow errors (ArrowInvalid is a ValueError),
# a bad JSON payload (ValueError), a missing column (KeyError) or an
# empty table (IndexError).
SIDECAR_ERRORS = (OSError, pa.ArrowException, ValueError, KeyError, IndexError)

# Spark type names (simpleString prefixes) whose parquet footer min/max
# are exact. String and binary bounds may be truncated by writers
# (parquet allows bound prefixes); booleans and nested types carry no
# usable order.
_EXACT_STATS_PREFIXES = (
    "int", "bigint", "smallint", "tinyint", "float", "double",
    "date", "timestamp", "decimal",
)


def strip_file_scheme(p: str) -> str:
    """`p` without a leading `file:` / `file://` scheme; other paths
    are returned unchanged."""
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):  # file:/// form
            p = p[1:]
    return p


def local_path(p: str) -> str | None:
    """OS path when `p` is handled on the driver's LOCAL filesystem,
    else None (the caller goes through Hadoop/Spark). `file:` URIs are
    local by definition; a scheme-qualified anything else (hdfs://,
    s3a://) never is; a scheme-less path counts only when its PARENT
    directory exists locally — on a cluster whose default FS is HDFS
    that probe fails and the Hadoop path is used, so metadata is never
    routed to the wrong filesystem."""
    if p.startswith("file:"):
        return strip_file_scheme(p)
    if "://" in p:
        return None
    return p if os.path.isdir(os.path.dirname(p)) else None


def exact_stats(dtype: str) -> bool:
    """Whether parquet footer min/max are exact for a column of Spark
    type `dtype` (a simpleString such as 'bigint' or 'decimal(12,2)')."""
    return dtype.startswith(_EXACT_STATS_PREFIXES)


def _footer_dtype(col) -> str:
    """The Spark type name of a footer column, as far as `exact_stats`
    needs it: DATE / TIMESTAMP / DECIMAL by logical type (any physical
    encoding; INT96 timestamps have none and stay inexact), plain
    numbers by physical type."""
    logical = col.logical_type.type
    if logical in ("DATE", "TIMESTAMP", "DECIMAL"):
        return logical.lower()
    return {"INT32": "int", "INT64": "bigint", "FLOAT": "float",
            "DOUBLE": "double"}.get(col.physical_type, "")


def _utc_naive(v):
    # pyarrow decodes Spark (UTC-adjusted) timestamp stats as tz-aware
    # datetimes; the engine compares UTC-naive values everywhere
    if isinstance(v, _dt.datetime) and v.tzinfo is not None:
        return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
    return v


class Footer(NamedTuple):
    rows: int
    # column -> (min, max), or None when the column is absent from the
    # file, its type has no exact stats, the file has no row group, or
    # any row group lacks min/max
    stats: dict


def read_footer(path: str, cols: list[str]) -> Footer | None:
    """Row count and top-level column min/max of one parquet file from
    its footer — no data read. None when the path is not local or the
    file cannot be opened as parquet (OSError / ArrowException, e.g. a
    file removed by a concurrent compaction): the caller then asks
    Spark."""
    local = local_path(path)
    if local is None:
        return None
    try:
        md = pq.ParquetFile(local).metadata
    except (OSError, pa.ArrowException):
        return None
    names = md.schema.names  # leaf names: a struct field may share one
    stats = {}
    for c in cols:
        i = next((i for i, n in enumerate(names)
                  if n == c and md.schema.column(i).path == c), None)
        if i is None or not exact_stats(_footer_dtype(md.schema.column(i))):
            stats[c] = None
            continue
        try:
            stats[c] = _column_bounds(md, i)
        except pa.ArrowNotImplementedError:  # a type pyarrow cannot decode
            stats[c] = None
    return Footer(int(md.num_rows), stats)


def _column_bounds(md, i: int):
    """(min, max) of column `i` over every row group, None when there
    is no row group or any lacks min/max."""
    col = md.schema.column(i)
    int_decimal = (col.logical_type.type == "DECIMAL"
                   and col.physical_type in ("INT32", "INT64"))
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(i).statistics
        if st is None or not st.has_min_max:
            return None
        if int_decimal:
            # pyarrow does not decode integer-backed decimal stats
            # (Spark's encoding up to precision 18); the raw values
            # are the unscaled integers
            mn = decimal.Decimal(st.min_raw).scaleb(-col.scale)
            mx = decimal.Decimal(st.max_raw).scaleb(-col.scale)
        else:
            mn, mx = st.min, st.max
        lo = mn if lo is None else min(lo, mn)
        hi = mx if hi is None else max(hi, mx)
    return None if lo is None else (_utc_naive(lo), _utc_naive(hi))


def read_footers(table_path: str, cols: list[str]) -> list[Footer] | None:
    """Footers of every part file under a local table directory, hive
    partition subdirectories included. None when the table is not
    local, holds no part file, or any footer is unreadable."""
    local = local_path(table_path)
    if local is None or not os.path.isdir(local):
        return None
    files = sorted(glob.glob(os.path.join(local, "**", "*.parquet"), recursive=True))
    footers = [read_footer(f, cols) for f in files]
    if not footers or any(f is None for f in footers):
        return None
    return footers


# -- sidecars: small tables stored as a parquet directory ---------------
# Layout: one `part-00000-<hex>.parquet` file plus a `_SUCCESS` marker —
# the shape Spark's writer gives a 1-partition frame, so Spark and
# pyarrow read each other's sidecars.

def write_sidecar_dir(d: str, table: pa.Table) -> None:
    """Write `table` as a new sidecar directory `d` (a local path).
    makedirs without exist_ok: callers stage into uuid-fresh temp
    names, and failing on an impossible collision is safer than writing
    into someone else's directory."""
    os.makedirs(d)
    pq.write_table(table, os.path.join(d, f"part-00000-{uuid.uuid4().hex}.parquet"))
    with open(os.path.join(d, "_SUCCESS"), "w"):
        pass


def read_sidecar_dir(d: str) -> pa.Table:
    """The table stored in local sidecar directory `d`, whichever
    writer produced it (`_`/`.`-prefixed files are skipped, as Spark
    does). Raises one of SIDECAR_ERRORS when it is missing or damaged."""
    return pq.read_table(d)


def json_table(payload, col: str = "j") -> pa.Table:
    """The JSON sidecar format: one row, one string column (`j` for
    versioned-table metadata; view sidecars use `meta` / `state`)
    holding the JSON-encoded payload."""
    return pa.table({col: pa.array([json.dumps(payload)], pa.string())})


def json_payload(table: pa.Table, col: str = "j"):
    """Decode a table in the `json_table` format."""
    return json.loads(table.column(col)[0].as_py())


def read_json_dir(d: str, col: str = "j"):
    """Payload of the JSON sidecar in local directory `d`."""
    return json_payload(read_sidecar_dir(d), col)
