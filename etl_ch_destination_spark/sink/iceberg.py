"""The Iceberg-style manifest chain: the one module that writes it and
walks it.

A snapshot is a commit (``sink/table_log.commit``, put-if-absent) whose
``metadata`` action names a MANIFEST LIST. Each list entry names one
manifest with the aggregate o_orderkey range of its files; each
manifest lists data files with per-file stats. Both levels are Avro
containers (``sink/avro``), so every byte the walk reads passes the
validating decode, and both are checked against the one copy of their
schemas below.

The walk prunes hierarchically when given a bound on o_orderkey: a
manifest whose aggregate min exceeds the bound is skipped WITHOUT being
opened (level 1), and within opened manifests a file whose min exceeds
the bound is skipped (level 2). Manifests are immutable, so a later
snapshot reuses an untouched manifest by naming it again.
"""

from __future__ import annotations

import os

from etl_ch_destination_spark.sink.avro import decode_container, encode_container
from etl_ch_destination_spark.sink.table_log import (
    commit,
    latest_version,
    read_actions,
)

ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "path", "type": "string"},
        {"name": "record_count", "type": "long"},
        {"name": "min_k", "type": "long"},
        {"name": "max_k", "type": "long"},
    ],
}
LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "min_k", "type": "long"},
        {"name": "max_k", "type": "long"},
    ],
}


def write_manifest(meta_dir: str, name: str, entries: list[tuple]) -> tuple:
    """Write the (path, record_count, min_k, max_k) ``entries`` as
    manifest ``name``; returns its manifest-list entry."""
    os.makedirs(meta_dir, exist_ok=True)
    with open(os.path.join(meta_dir, name), "wb") as f:
        f.write(encode_container(ENTRY_SCHEMA, entries, codec="deflate"))
    return (name, min(e[2] for e in entries), max(e[3] for e in entries))


def publish(meta_dir: str, version: int, list_name: str, refs: list[tuple]) -> None:
    """Write the manifest list ``list_name`` over ``refs`` and commit it
    as snapshot ``version``."""
    with open(os.path.join(meta_dir, list_name), "wb") as f:
        f.write(encode_container(LIST_SCHEMA, refs, codec="deflate"))
    commit(meta_dir, version, [{"metadata": {
        "snapshot_id": version, "manifest_list": list_name}}])


def _decode(meta_dir: str, name: str, schema: dict) -> list[tuple]:
    with open(os.path.join(meta_dir, name), "rb") as f:
        return decode_container(f.read(), schema)


def iceberg_resolve_files(
    meta_dir: str, version: int, kmax: int | None = None
) -> list[tuple]:
    """Walk snapshot ``version`` → manifest list → manifests and return
    its live (path, record_count, min_k, max_k) entries. With ``kmax``,
    only entries that can hold ``o_orderkey <= kmax`` survive, through
    the level-1 and level-2 skips. Bounded driver-side metadata, like
    Iceberg's own planner."""
    meta = None
    for v, action in read_actions(meta_dir, upto=version):
        if v == version and "metadata" in action:
            meta = action["metadata"]
    if meta is None:
        raise ValueError(f"no committed metadata for version {version}")
    out: list[tuple] = []
    for mpath, mmin, _mmax in _decode(meta_dir, meta["manifest_list"], LIST_SCHEMA):
        if kmax is not None and mmin > kmax:
            continue  # level-1 skip: never opened
        for entry in _decode(meta_dir, mpath, ENTRY_SCHEMA):
            if kmax is None or entry[2] <= kmax:  # level-2 skip
                out.append(entry)
    return out


def iceberg_plan_files(meta_dir: str, kmax: int) -> list[tuple]:
    """The latest snapshot's entries that survive the ``kmax`` bound."""
    return iceberg_resolve_files(meta_dir, latest_version(meta_dir), kmax)
