"""Dataset snapshots for SCBF: pin the exact file set of a dataset at a
moment, read it back later (time travel), or roll the dataset back to it.

A snapshot is a JSON manifest under ``<dataset>/_snapshots/snap-<id>.json``
listing the data files (relative paths + sizes) visible at creation time.
``_``-prefixed directories are invisible to the DataSource's ``*.scbf``
lister and to hive partition discovery, so manifests can never be read as
data (same convention as Spark's ``_SUCCESS`` / Delta's ``_delta_log``).

Semantics (and honest limits — this is a manifest log, not a full
multi-version table format):

- **Append-only history is fully time-travelable.** Writers only ever add
  files (the DataSource's commit protocol never mutates committed files;
  the streaming sink is append-only by construction), so every snapshot of
  an append-only dataset stays readable: ``read_snapshot`` sees exactly the
  manifest's files, concurrent appends after the snapshot are invisible.
- **Rewrites invalidate older snapshots.** Overwrite, ``compact`` and
  ``merge_into`` remove files from the dataset log and then unlink them; a
  manifest naming a removed file fails loudly at read with the missing
  paths (the Delta analog: VACUUM beyond retention breaks time travel).
  Making snapshots versions of the dataset log, so that rewritten files
  are kept while a snapshot names them, is future work.
- **Rollback** restores the dataset to a manifest in one dataset-log commit
  (``sources/dataset_log.py``), then unlinks the data files the manifest
  doesn't name. It refuses if any manifest file is missing (nothing is
  changed), and a crash after the commit only leaves unnamed files for
  ``vacuum``.

At 100 TB the manifest is small (file names, not data) and creation is one
metadata listing — no data I/O, same as Iceberg snapshot creation.
"""

from __future__ import annotations

import json
import os
import time
from typing import Optional

from ..sources import dataset_log

SNAP_DIR = "_snapshots"


def _snap_dir(path: str) -> str:
    return os.path.join(os.path.abspath(path), SNAP_DIR)


def _manifest_path(path: str, snapshot_id: int) -> str:
    return os.path.join(_snap_dir(path), f"snap-{snapshot_id}.json")


def list_snapshots(path: str) -> list[dict]:
    """All manifests for the dataset, ascending by id."""
    d = _snap_dir(path)
    if not os.path.isdir(d):
        return []
    out = []
    for name in os.listdir(d):
        if name.startswith("snap-") and name.endswith(".json"):
            p = os.path.join(d, name)
            if os.path.getsize(p) == 0:
                continue  # a concurrent creator's claimed-but-unfilled id
            with open(p) as f:
                out.append(json.load(f))
    return sorted(out, key=lambda m: m["snapshot_id"])


def create_snapshot(path: str, tag: Optional[str] = None) -> dict:
    """Record the dataset's current committed file set as a new snapshot.
    Metadata-only: lists files, writes one small JSON. Returns the manifest."""
    from ..sources.scbf_datasource import _list_scbf_files

    root = os.path.abspath(path)
    files = _list_scbf_files(root)
    existing = list_snapshots(path)
    snap_id = (existing[-1]["snapshot_id"] + 1) if existing else 1
    manifest = {
        "snapshot_id": snap_id,
        "tag": tag,
        "created_unix": time.time(),
        "files": [
            {"path": os.path.relpath(f, root).replace(os.sep, "/"), "bytes": os.path.getsize(f)}
            for f in files
        ],
    }
    os.makedirs(_snap_dir(path), exist_ok=True)
    # Publish without clobbering: two concurrent snapshotters computing the
    # same next id must not silently overwrite each other. O_EXCL claims the
    # id (the loser retries with the next one — ids stay unique), then the
    # content lands via tmp + rename so readers never parse a partial JSON;
    # a zero-byte claim is skipped by list_snapshots until filled.
    while True:
        manifest["snapshot_id"] = snap_id
        mp = _manifest_path(path, snap_id)
        try:
            os.close(os.open(mp, os.O_WRONLY | os.O_CREAT | os.O_EXCL))
        except FileExistsError:
            snap_id += 1
            continue
        tmp = mp + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, mp)  # atomic content publish over the claim
        return manifest


def _resolve_manifest(path: str, snapshot) -> dict:
    """Find a manifest by numeric id or tag string."""
    snaps = list_snapshots(path)
    if not snaps:
        raise FileNotFoundError(f"no snapshots under {path}/{SNAP_DIR}")
    try:
        want_id = int(snapshot)
    except (TypeError, ValueError):
        want_id = None
    for m in snaps:
        if (want_id is not None and m["snapshot_id"] == want_id) or (
            want_id is None and m.get("tag") == snapshot
        ):
            return m
    raise FileNotFoundError(
        f"snapshot {snapshot!r} not found under {path}/{SNAP_DIR}; "
        f"have ids {[m['snapshot_id'] for m in snaps]}"
    )


def snapshot_files(path: str, snapshot) -> list[str]:
    """Absolute data-file paths of a snapshot, erroring loudly (with the
    missing names) if maintenance rewrote any of them since."""
    root = os.path.abspath(path)
    m = _resolve_manifest(path, snapshot)
    files = [os.path.join(root, e["path"]) for e in m["files"]]
    missing = [f for f in files if not os.path.isfile(f)]
    if missing:
        raise FileNotFoundError(
            f"snapshot {m['snapshot_id']} of {path} is no longer readable: "
            f"{len(missing)} file(s) were rewritten by compact/merge or vacuumed: "
            f"{[os.path.relpath(p, root) for p in missing[:5]]}"
        )
    return sorted(files)


def read_snapshot(spark, path: str, snapshot):
    """DataFrame over exactly the snapshot's files (time travel):
    ``spark.read.format('scbf').option('snapshot', id).load(path)``."""
    from ..sources.scbf_datasource import register

    register(spark)
    return spark.read.format("scbf").option("snapshot", str(snapshot)).load(path)


def rollback(path: str, snapshot) -> dict:
    """Restore the dataset to a snapshot's exact file set: one log commit
    to the manifest's files (all must still exist — verified before
    anything changes), then unlink the files it dropped. Append-only writers
    make this the cheap undo for a bad batch. Returns {"kept": n,
    "deleted": n}."""
    root = os.path.abspath(path)
    keep = set(snapshot_files(path, snapshot))  # raises if any are missing
    extras = [f for f in dataset_log.current_files(root) if f not in keep]
    dataset_log.publish(root, remove=extras, add=keep)
    return {"kept": len(keep), "deleted": len(extras)}


#: zero-byte claim files older than this are considered abandoned (a creator
#: died between the O_EXCL claim and the rename) and reclaimed by retention
ABANDONED_CLAIM_SECONDS = 3600.0


def expire_snapshots(path: str, keep_last: int = 1) -> int:
    """Drop all but the newest ``keep_last`` manifests (retention). Data
    files are untouched — reclaim space afterwards via compaction/vacuum.
    Also reclaims abandoned zero-byte claim files (a snapshot creator that
    died between the O_EXCL claim and the content rename) once they are
    older than ``ABANDONED_CLAIM_SECONDS`` — young claims are left alone
    because a live creator may still be about to fill them. Returns the
    number of manifests removed (abandoned claims are not counted)."""
    snaps = list_snapshots(path)
    drop = snaps[:-keep_last] if keep_last > 0 else snaps
    for m in drop:
        os.unlink(_manifest_path(path, m["snapshot_id"]))
    d = _snap_dir(path)
    if os.path.isdir(d):
        now = time.time()
        for name in os.listdir(d):
            if not (name.startswith("snap-") and name.endswith(".json")):
                continue
            p = os.path.join(d, name)
            try:
                st = os.stat(p)
                if st.st_size == 0 and now - st.st_mtime > ABANDONED_CLAIM_SECONDS:
                    os.unlink(p)
            except OSError:
                pass  # concurrently filled or removed — never an error here
    return len(drop)


def changed_files(path: str, from_snapshot, to_snapshot) -> list[str]:
    """Data files added between two snapshots (append-only change feed).
    Both manifests must still be fully readable; files REMOVED between the
    snapshots (a rewrite or rollback happened in between) are an error —
    this feed only describes appends, and pretending otherwise would silently
    drop deletions."""
    root = os.path.abspath(path)
    older = {e["path"] for e in _resolve_manifest(path, from_snapshot)["files"]}
    newer_m = _resolve_manifest(path, to_snapshot)
    newer = {e["path"] for e in newer_m["files"]}
    removed = older - newer
    if removed:
        raise ValueError(
            f"snapshots {from_snapshot!r}→{to_snapshot!r} of {path} are not "
            f"append-only: {len(removed)} file(s) were removed (rewrite or "
            f"rollback in between): {sorted(removed)[:5]}"
        )
    added = [os.path.join(root, p) for p in sorted(newer - older)]
    missing = [f for f in added if not os.path.isfile(f)]
    if missing:
        raise FileNotFoundError(
            f"change feed {from_snapshot!r}→{to_snapshot!r}: {len(missing)} "
            f"added file(s) no longer exist: {[os.path.relpath(p, root) for p in missing[:5]]}"
        )
    return added


def read_changes(spark, path: str, from_snapshot, to_snapshot):
    """DataFrame over ONLY the rows appended between two snapshots — the
    incremental-consumption primitive (downstream jobs process the delta,
    never rescan 100 TB of history). Served via the DataSource's ``files``
    read option (explicit file pinning), so reading a delta never writes
    table metadata."""
    from ..sources.scbf_datasource import register

    register(spark)
    files = changed_files(path, from_snapshot, to_snapshot)
    if not files:
        # empty delta: an empty DataFrame with the dataset's schema
        return spark.read.format("scbf").load(path).limit(0)
    root = os.path.abspath(path)
    rel = ",".join(os.path.relpath(f, root).replace(os.sep, "/") for f in files)
    return spark.read.format("scbf").option("files", rel).load(path)
