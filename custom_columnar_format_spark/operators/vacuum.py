"""Vacuum + crash recovery for SCBF datasets.

``vacuum`` deletes every ``*.scbf`` file under the dataset root, hidden job
directories included, that the current dataset-log version does not name
(``sources/dataset_log.py``; for a dataset without a log, the files its glob
listing does not see). Those are what a crash left behind: a dead task's
hidden ``.tmp-*`` file, a job's parts moved beside the data but never
committed, or a removed file whose unlink never ran. Nothing the current
version names is ever a candidate.

It also removes the staging and backup directories of older maintenance
runs, which swapped directories instead of committing to the log (see
``operators/_staging.py``; the hidden ``root/.k=v.compact-tmp`` and the
legacy visible ``root/k=v.compact-tmp`` namings). Python's ``glob`` never
matches dot-prefixed components, so discovery walks the tree with
``os.walk`` and classifies names via ``_staging.split_scratch``. A ``*-old``
BACKUP whose dataset directory is missing is the only surviving copy of that
data (the driver died between the two swap renames): ``vacuum`` refuses to
delete it and ``recover`` renames it back into place. ``compact``/``merge``
call ``recover`` on entry so such a dataset heals on the next maintenance
run.

Like Delta's VACUUM, an age threshold guards against deleting files that a
LIVE job is still writing or about to commit (default 1 hour; pass 0 in
tests).
"""

from __future__ import annotations

import os
import shutil
import time

from ..sources import dataset_log
from ._staging import split_scratch

#: sibling link-dirs merge stages its touched-file symlinks in; always
#: disposable scratch, never a restorable backup
_LINK_SUFFIX = ".touched"


def _scratch_of(name: str):
    """Classify a directory NAME: return (dataset_dir_basename, suffix,
    is_backup) for scratch names, else None. ``.touched`` link dirs are
    scratch but never backups."""
    probe = name
    if probe.endswith(_LINK_SUFFIX):
        probe = probe[: -len(_LINK_SUFFIX)]
    hit = split_scratch(probe)
    if hit is None:
        return None
    ds, suffix = hit
    is_backup = suffix.endswith("-old") and not name.endswith(_LINK_SUFFIX)
    return ds, suffix, is_backup


def _scratch_dirs(path: str) -> list[tuple[str, str, bool]]:
    """All scratch dirs belonging to the dataset at ``path``:
    hidden/legacy siblings of the root itself, plus any found inside the
    tree (scratch of hive partition dirs). Returns
    (scratch_path, dataset_dir, is_backup); does not descend into scratch."""
    out = []
    root = os.path.abspath(path)
    parent, base = os.path.split(root)
    # scratch of the dataset root lives NEXT TO it in the parent dir
    if os.path.isdir(parent):
        for name in os.listdir(parent):
            hit = _scratch_of(name)
            if hit is None:
                continue
            ds_base, _suffix, is_backup = hit
            if os.path.basename(ds_base) == base:
                out.append((os.path.join(parent, name), root, is_backup))
    # scratch of partition dirs lives inside the tree
    for walk_root, dirs, _files in os.walk(root):
        keep = []
        for dname in dirs:
            hit = _scratch_of(dname)
            if hit is None:
                keep.append(dname)
                continue
            ds_base, _suffix, is_backup = hit
            out.append(
                (
                    os.path.join(walk_root, dname),
                    os.path.join(walk_root, os.path.basename(ds_base)),
                    is_backup,
                )
            )
        dirs[:] = keep  # never vacuum inside scratch
    return out


def recover(path: str) -> list[str]:
    """Heal a crashed swap: any ``*-old`` backup whose dataset directory is
    MISSING (driver died between ``rename(d, backup)`` and
    ``rename(staging, d)``) is renamed back to the dataset directory.
    Returns the restored dataset dirs. Backups whose dataset dir exists are
    left alone (the swap completed; vacuum deletes them by age)."""
    restored = []
    for scratch, ds, is_backup in _scratch_dirs(path):
        if is_backup and not os.path.exists(ds):
            os.rename(scratch, ds)
            restored.append(ds)
    return restored


def vacuum(path: str, older_than_seconds: float = 3600.0) -> dict:
    """Delete the unnamed files and legacy scratch dirs of the dataset at
    ``path`` that are older than the threshold. Backups that are the only
    copy of a vanished dataset dir are NEVER deleted (see ``recover``).
    Returns counts: {"tmp_files": n, "staging_dirs": n}."""
    now = time.time()
    stats = {"tmp_files": 0, "staging_dirs": 0}

    def expired(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) >= older_than_seconds
        except FileNotFoundError:
            return False  # removed concurrently

    named = {os.path.abspath(f) for f in dataset_log.current_files(path)}
    for walk_root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if _scratch_of(d) is None]  # legacy rules below
        for name in files:
            p = os.path.abspath(os.path.join(walk_root, name))
            if name.endswith(".scbf") and p not in named and expired(p):
                os.remove(p)
                stats["tmp_files"] += 1

    for scratch, ds, is_backup in _scratch_dirs(path):
        if is_backup and not os.path.exists(ds):
            continue  # only surviving copy — recover() restores it
        if expired(scratch):
            shutil.rmtree(scratch)
            stats["staging_dirs"] += 1
    return stats
