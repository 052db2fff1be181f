"""Metadata model: data files, manifests, snapshots, table metadata.

All structures are plain JSON-serializable dicts wrapped in light dataclasses.
Paths stored in metadata are RELATIVE to the table root so a table directory
is relocatable (like Iceberg's location-relative metadata).

Manifest reuse keeps commits O(delta): an append adds ONE new manifest and
re-references the parent snapshot's manifests untouched; a replace rewrites
only manifests that contain replaced files. ``rewrite_manifests`` merges the
accumulated small manifests (the reference's "extend index over the tail"
maintenance analog, src/store/mod.rs:666-721).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass, field
from typing import Any

FORMAT_VERSION = 1


def _new_id() -> int:
    return uuid.uuid4().int & ((1 << 62) - 1)


@dataclass
class DataFile:
    path: str  # relative to table root
    partition: dict[str, str]
    records: int
    bytes: int
    # per-column {col: [min, max]} for primitive stat columns; the min/max
    # that drives manifest file-skipping (Iceberg lower_bounds/upper_bounds)
    stats: dict[str, list[Any]] = field(default_factory=dict)
    # Iceberg manifest-entry content: "data" or "deletes" (positional delete
    # sidecars for the merge-on-read tier). Omitted from JSON for data files
    # so pre-MoR manifests stay byte-identical.
    content: str = "data"

    def to_json(self) -> dict:
        out = {
            "path": self.path,
            "partition": self.partition,
            "records": self.records,
            "bytes": self.bytes,
            "stats": self.stats,
        }
        if self.content != "data":
            out["content"] = self.content
        return out

    @staticmethod
    def from_json(d: dict) -> "DataFile":
        return DataFile(
            d["path"], d["partition"], d["records"], d["bytes"], d.get("stats", {}),
            d.get("content", "data"),
        )


@dataclass
class Manifest:
    path: str  # relative
    files: list[DataFile]

    @property
    def records(self) -> int:
        return sum(f.records for f in self.files)

    @property
    def bytes(self) -> int:
        return sum(f.bytes for f in self.files)


def write_manifest(root: str, files: list[DataFile]) -> str:
    """Write a manifest JSON; returns its root-relative path."""
    rel = f"metadata/mf-{uuid.uuid4().hex}.json"
    path = os.path.join(root, rel)
    payload = json.dumps({"files": [f.to_json() for f in files]})
    os.replace(_write_temp(path, payload), path)
    return rel


def read_manifest(root: str, rel: str) -> Manifest:
    with open(os.path.join(root, rel)) as fh:
        d = json.load(fh)
    return Manifest(rel, [DataFile.from_json(x) for x in d["files"]])


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # append | replace | delete | overwrite | expire | rewrite-manifests
    manifests: list[str]
    summary: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "manifests": self.manifests,
            "summary": self.summary,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            d["snapshot_id"], d.get("parent_id"), d["timestamp_ms"],
            d["operation"], d["manifests"], d.get("summary", {}),
        )


@dataclass
class TableMetadata:
    table_uuid: str
    schema_json: dict
    partition_by: list[str]
    stat_cols: list[str]
    current_snapshot_id: int | None
    snapshots: list[Snapshot]
    properties: dict[str, str]
    version: int  # metadata file version N (v<N>.metadata.json)

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id
        if sid is None:
            return None
        for s in self.snapshots:
            if s.snapshot_id == sid:
                return s
        raise KeyError(f"snapshot {sid} not found (expired?)")

    def to_json(self) -> dict:
        return {
            "format_version": FORMAT_VERSION,
            "table_uuid": self.table_uuid,
            "schema": self.schema_json,
            "partition_by": self.partition_by,
            "stat_cols": self.stat_cols,
            "current_snapshot_id": self.current_snapshot_id,
            "snapshots": [s.to_json() for s in self.snapshots],
            "properties": self.properties,
            "version": self.version,
        }

    @staticmethod
    def from_json(d: dict) -> "TableMetadata":
        return TableMetadata(
            table_uuid=d["table_uuid"],
            schema_json=d["schema"],
            partition_by=d["partition_by"],
            stat_cols=d.get("stat_cols", []),
            current_snapshot_id=d.get("current_snapshot_id"),
            snapshots=[Snapshot.from_json(s) for s in d.get("snapshots", [])],
            properties=d.get("properties", {}),
            version=d["version"],
        )


def metadata_path(root: str, version: int) -> str:
    return os.path.join(root, "metadata", f"v{version}.metadata.json")


def _write_temp(path: str, text: str) -> str:
    """Write ``text`` to a fresh temp file beside ``path`` and return the
    temp path. Every metadata file (manifest, version, hint) is written here
    and then published atomically by its caller — ``os.replace`` for
    manifests and the hint, ``os.link`` for the version CAS."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(text)
    return tmp


def write_metadata_exclusive(root: str, meta: TableMetadata) -> bool:
    """The commit point: publish v<N>.metadata.json create-if-absent.

    Returns False if version N already exists (lost the race) — the caller
    reloads + retries. This is the CAS that makes every maintenance op one
    atomic snapshot (north rule) without any lock.

    The payload is fully written to a temp file first and published with
    ``os.link`` (atomic create-exclusive of a COMPLETE file) — a plain
    O_EXCL-then-write would let a concurrent reader probing for the newest
    version observe a half-written JSON.
    """
    path = metadata_path(root, meta.version)
    tmp = _write_temp(path, json.dumps(meta.to_json()))
    try:
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    # advisory hint; readers fall back to scanning for max N
    hint = os.path.join(root, "metadata", "version-hint.text")
    os.replace(_write_temp(hint, str(meta.version)), hint)
    return True


def load_latest_metadata(root: str) -> TableMetadata:
    mdir = os.path.join(root, "metadata")
    version = -1
    hint = os.path.join(mdir, "version-hint.text")
    if os.path.exists(hint):
        try:
            with open(hint) as fh:
                version = int(fh.read().strip())
        except (ValueError, OSError):
            version = -1
    # the hint may lag a racing committer: scan forward from it
    probe = max(version, 0)
    latest = None
    while os.path.exists(metadata_path(root, probe)):
        latest = probe
        probe += 1
    if latest is None:
        # no hint / gap: full scan
        best = -1
        if os.path.isdir(mdir):
            for name in os.listdir(mdir):
                if name.startswith("v") and name.endswith(".metadata.json"):
                    try:
                        best = max(best, int(name[1:].split(".")[0]))
                    except ValueError:
                        pass
        if best < 0:
            raise FileNotFoundError(f"no table metadata under {root}")
        latest = best
    with open(metadata_path(root, latest)) as fh:
        return TableMetadata.from_json(json.load(fh))
