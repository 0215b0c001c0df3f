"""Catalog persistence: the reference's DDL / existence / introspection
surface (R6-R11) as a parquet-backed store kept on the driver.

The reference creates a mosaic dataset (``CreateMosaicDataset_management``,
``WROS/Weighted Raster Overlay Service.pyt:805``), adds its TEXT columns by
DDL (``AddFields_management``, ``.pyt:814``), drops-if-exists
(``Delete_management``, ``.pyt:794-796``), existence-checks with
``arcpy.Exists`` (``.pyt:284, 674, 765``), validates schema-by-name
with ``ListFields`` (``.pyt:139-147, 441-449``), and edits rows one at a
time, client-side, with an ``UpdateCursor`` (``.pyt:318, 547, 879``).
Here the catalog is a parquet directory: DDL is writing an empty table
with the schema, existence is a filesystem check, introspection is
``df.schema``, and the keyed read-modify-write cycle becomes read -> CASE
override -> atomic replace.

Scale: the catalog has one row per raster layer at any data scale, so
it stays on the driver. A load is ``pq.read_table`` as a LocalRelation
(``session.local_frame``), on which key checks, metadata collects and
CASE overrides run no Spark job; a commit collects the rows and writes
ONE file with ``pq.write_table``. Callers pass and receive DataFrames, so
at real scale the same API maps to a table format with MERGE.
"""

from __future__ import annotations

import os
import shutil
from datetime import timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from ..session import local_frame

#: canonical catalog schema (``.pyt:592-603`` plus the system Name key).
CATALOG_SCHEMA = StructType(
    [
        StructField("Name", StringType()),
        StructField("Title", StringType()),
        StructField("Description", StringType()),
        StructField("Url", StringType()),
        StructField("InputRanges", StringType()),
        StructField("NoDataRanges", StringType()),
        StructField("RangeLabels", StringType()),
        StructField("NoDataRangeLabels", StringType()),
        StructField("OutputValues", StringType()),
        StructField("Metadata", StringType()),
        StructField("dataset_id", StringType()),
    ]
)

#: required columns each tool validates before touching a catalog
#: (``.pyt:139-147`` classification; ``.pyt:441-449`` layer info).
REQUIRED_CLASSIFICATION = ["Name", "Title", "RangeLabels", "InputRanges", "OutputValues"]
REQUIRED_LAYER_INFO = ["Name", "Title", "Description", "Url", "Metadata"]


def catalog_exists(path: str) -> bool:
    """R9 (``arcpy.Exists``): a catalog exists iff its dir has a footer."""
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def create_catalog(spark: SparkSession, path: str, overwrite: bool = False) -> None:
    """R6/R7/R8: create the empty catalog with the canonical schema;
    drop-if-exists only when asked (the reference's boolean param,
    ``.pyt:638-643, 794-796``)."""
    if catalog_exists(path):
        if not overwrite:
            raise FileExistsError(f"catalog already exists: {path}")
        shutil.rmtree(path)
    if overwrite:
        # a rebuilt store must start with a clean history even when the
        # live dir itself was already removed by the caller
        purge_history(path)
    _write_snapshot(path, local_frame(spark, [], CATALOG_SCHEMA))


def _write_snapshot(path: str, df: DataFrame) -> None:
    """The store's one writer: ``df``'s rows, collected (no job on a
    LocalRelation; ``toArrow()`` runs one), as ONE parquet file, then the
    ``_SUCCESS`` marker :func:`recover_catalog` keys on. Timestamps are
    stored as INT96, as Spark's writer stores them, so a state table
    committed here (``q_stream_upsert``) reads back as a plain TIMESTAMP
    in other engines."""
    ts = [f.name for f in df.schema.fields if isinstance(f.dataType, TimestampType)]
    rows = [r.asDict(recursive=True) for r in df.collect()]
    for d in rows:  # collected timestamps are naive local times
        d.update({c: d[c].astimezone(timezone.utc) for c in ts if d[c] is not None})
    os.makedirs(path)
    pq.write_table(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(df.schema)),
        os.path.join(path, "part-00000.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _swap_paths(path: str) -> tuple[str, str]:
    base = path.rstrip("/")
    return base + ".tmp", base + ".old"


def _version_path(path: str, n: int) -> str:
    return path.rstrip("/") + f".v{n:05d}"


def catalog_versions(path: str) -> list[int]:
    """Retained historical snapshot numbers, ascending (empty when the
    store was never replaced with ``keep_history > 0``). The LIVE
    snapshot is always one newer than the highest retained version."""
    base = os.path.basename(path.rstrip("/")) + ".v"
    parent = os.path.dirname(path.rstrip("/")) or "."
    out = []
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            if name.startswith(base) and name[len(base):].isdigit():
                out.append(int(name[len(base):]))
    return sorted(out)


def purge_history(path: str) -> None:
    """Remove every retained snapshot (used by ``create_catalog`` on
    overwrite so a rebuilt store starts with a clean history)."""
    for n in catalog_versions(path):
        shutil.rmtree(_version_path(path, n), ignore_errors=True)


def recover_catalog(path: str) -> None:
    """Finish or roll back a :func:`replace_catalog` interrupted mid-swap.

    The swap has one unsafe window: after the live dir is renamed to
    ``.old`` and before the new snapshot is renamed in, no catalog exists
    at ``path``. Detection is unambiguous: ``path`` missing + ``.old``
    present. Recovery rolls FORWARD to the new snapshot when its write
    completed (parquet ``_SUCCESS`` marker in ``.tmp``), else rolls BACK
    to the previous snapshot -- either way a complete catalog is restored
    and the leftovers are cleared. Called automatically by
    :func:`load_catalog` and :func:`replace_catalog`; no-op when a live
    catalog exists."""
    tmp, old = _swap_paths(path)
    if os.path.isdir(path) or not os.path.isdir(old):
        return
    if os.path.isfile(os.path.join(tmp, "_SUCCESS")):
        os.rename(tmp, path)
    else:
        os.rename(old, path)
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def load_catalog(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read the live catalog, or -- time travel -- a retained historical
    snapshot by number (see :func:`replace_catalog` ``keep_history``)."""
    recover_catalog(path)
    if version is not None:
        vpath = _version_path(path, version)
        if not os.path.isdir(vpath):
            raise FileNotFoundError(
                f"no snapshot v{version} at {path} "
                f"(retained: {catalog_versions(path)})"
            )
        path = vpath
    elif not catalog_exists(path):
        raise FileNotFoundError(f"no catalog at {path}")
    # the file's own schema, not CATALOG_SCHEMA: a foreign catalog's
    # missing columns must stay visible to missing_columns
    table = pq.read_table(path)
    return local_frame(spark, table, from_arrow_schema(table.schema))


def missing_columns(df: DataFrame, required: list[str]) -> list[str]:
    """R10 schema introspection: required-by-name validation."""
    have = set(df.columns)
    return [c for c in required if c not in have]


def _aligned(cat: DataFrame, rows: DataFrame) -> DataFrame:
    """``rows`` aligned to the catalog's columns by name, cast to string,
    absent columns NULL."""
    return rows.select(
        *[
            F.col(c).cast("string").alias(c)
            if c in rows.columns
            else F.lit(None).cast("string").alias(c)
            for c in cat.columns
        ]
    )


def append_rows(spark: SparkSession, path: str, rows: DataFrame) -> None:
    """R5 bulk load (``AddRastersToMosaicDataset``, ``.pyt:842``): align
    to the catalog schema by name, fill absent columns with NULL. The
    append is a :func:`replace_catalog` of the current rows plus the new
    ones, so the store has one write path. Both sides are collected and
    rebuilt as one local frame: Spark folds no Union of LocalRelations,
    so a ``union`` of two jobless sides would run a job."""
    cat = load_catalog(spark, path)
    added = cat.collect() + _aligned(cat, rows).collect()
    replace_catalog(path, local_frame(spark, added, cat.schema))


def merge_rows(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str = "Name",
    keep_history: int = 0,
) -> None:
    """MERGE (upsert) into the catalog: rows whose ``key`` matches an
    existing row replace it column-by-column (non-null update values
    win, nulls keep the current value); unmatched rows insert. The rows
    are those of a full-outer join on the key (one per matching update;
    a NULL key matches nothing), merged over the driver rows: one job
    collects the updates, where the join of two LocalRelations runs
    three. At real scale the call maps onto a format MERGE."""
    cat = load_catalog(spark, path)
    current = cat.collect()
    by_key: dict = {}
    for u in _aligned(cat, updates).collect():
        by_key.setdefault(u[key], []).append(u)
    merged = []
    for r in current:
        matches = by_key.get(r[key], []) if r[key] is not None else []
        merged += [[c if v is None else v for c, v in zip(r, u)] for u in matches] or [r]
    have = {r[key] for r in current}
    merged += [u for k, us in by_key.items() if k is None or k not in have for u in us]
    replace_catalog(path, local_frame(spark, merged, cat.schema), keep_history=keep_history)


def catalog_diff(
    spark: SparkSession,
    path: str,
    v_from: int | None,
    v_to: int | None,
    key: str = "Name",
) -> DataFrame:
    """Change data feed between two snapshots (``None`` = live): one row
    per changed key with ``change_type`` insert/update/delete and the
    ``v_to`` values (NULL for a delete). The rows are those of a
    full-outer join on the key, computed over the two collected
    snapshots: an update is any key present in both whose non-key
    columns differ (null-safe compare), and a NULL key matches nothing,
    so it reads as an insert. The row-level diff a downstream
    incremental consumer replays instead of re-reading the whole
    table."""
    a = load_catalog(spark, path, version=v_from)
    b = load_catalog(spark, path, version=v_to)
    vals = [c for c in a.columns if c != key]
    old, new = a.collect(), b.collect()
    by_key: dict = {}
    for r in new:
        if r[key] is not None:
            by_key.setdefault(r[key], []).append(r)
    out = []
    for r in old:
        if r[key] is None:
            out.append((None, "insert", *[None] * len(vals)))
        elif r[key] not in by_key:
            out.append((r[key], "delete", *[None] * len(vals)))
        else:
            out += [
                (r[key], "update", *[n[c] for c in vals])
                for n in by_key[r[key]]
                if any(not _same(r[c], n[c]) for c in vals)
            ]
    have = {r[key] for r in old}
    out += [
        (r[key], "insert", *[r[c] for c in vals])
        for r in new
        if r[key] is None or r[key] not in have
    ]
    schema = StructType(
        [b.schema[key], StructField("change_type", StringType())]
        + [b.schema[c] for c in vals]
    )
    return local_frame(spark, out, schema)


def _same(x, y) -> bool:
    """Spark's null-safe equality: NULL equals NULL, NaN equals NaN."""
    return x == y or (x != x and y != y)


def replace_catalog(
    path: str, updated: DataFrame, keep_history: int = 0
) -> None:
    """Atomic-ish snapshot replace for keyed updates (R4): write the new
    snapshot beside the old, then swap. The reference's UpdateCursor
    mutates in place; snapshot-replace is the parquet-world equivalent
    with the same observable result.

    ``keep_history``: when > 0, the displaced snapshot is RETAINED as
    ``{path}.v{N}`` (N = one past the highest retained version) instead
    of deleted, and only the newest ``keep_history`` snapshots are kept
    -- the minimal table-format surface: snapshot isolation (readers of
    a version dir never see the swap) and time travel
    (``load_catalog(..., version=N)``; ``catalog_versions``). At real
    scale the same API maps to a format with a metadata log (Delta/
    Iceberg); the store keeps the layout a plain parquet dir per
    snapshot.

    Crash safety: a crash inside the two-rename window leaves ``path``
    missing but ``.old`` (and a complete ``.tmp``) present;
    :func:`recover_catalog` -- run here and on every load -- rolls the
    swap forward or back, so the LIVE catalog is never lost. One honest
    caveat: recovery clears ``.old`` without archiving it, so the
    displaced snapshot of the interrupted replace is dropped from
    HISTORY (older retained versions are untouched) -- durability of the
    live table wins over completeness of the version log, the same
    priority a metadata-log format makes."""
    recover_catalog(path)
    tmp, old = _swap_paths(path)
    shutil.rmtree(tmp, ignore_errors=True)
    _write_snapshot(tmp, updated)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    if keep_history > 0:
        versions = catalog_versions(path)
        os.rename(old, _version_path(path, (versions[-1] if versions else 0) + 1))
        for stale in catalog_versions(path)[:-keep_history]:
            shutil.rmtree(_version_path(path, stale), ignore_errors=True)
    else:
        shutil.rmtree(old, ignore_errors=True)
