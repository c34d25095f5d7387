"""The dataset log: which files an SCBF dataset directory holds.

Version ``n`` is ``<root>/_scbf_log/<n>.json`` and holds the **full** list
of the dataset's files, as paths relative to the root. A reader reads one
small JSON and replays nothing.

A writer publishes version ``n + 1`` put-if-absent: it writes a temp file
and ``os.link``s it to ``<n + 1>.json``, which fails when another writer got
there first. The writer then re-reads the log and retries as long as every
file it removes is still current; otherwise it raises ``CommitConflict``, so
a stale rewrite fails loudly instead of dropping or resurrecting rows. This
is the commit log of Delta Lake (VLDB 2020) without checkpoints: each
version is a full list, so there is nothing to replay.

Every change to a dataset's file set goes through ``publish``. New files
are moved beside the data first, where no version names them yet, and
removed files are unlinked only after the commit. A crash at any step
therefore leaves readers the old or the new file set, never a mix;
``vacuum`` deletes what the crash left behind.

A directory without ``_scbf_log/`` (written by the codecs directly, or
before the log existed) is listed by a recursive ``*.scbf`` glob. ``publish``
pins that listing as version 0 before it moves any file in.
"""

from __future__ import annotations

import glob
import json
import os
import uuid

LOG_DIR = "_scbf_log"


class CommitConflict(RuntimeError):
    """A concurrent commit removed a file this commit also removes."""


def _under_scratch(root: str, file_path: str) -> bool:
    """True when any directory component of ``file_path`` below ``root`` is a
    maintenance scratch dir (hidden, or suffixed ``*.merge-tmp``/``-old`` /
    ``*.compact-tmp``/``-old``). Hidden names are invisible to glob already;
    this also shields against legacy visible staging dirs, so a crashed or
    concurrent maintenance run of an older version is never read as data."""
    from ..operators._staging import is_scratch_component

    rel = os.path.relpath(os.path.abspath(file_path), os.path.abspath(root))
    return any(is_scratch_component(c) for c in rel.split(os.sep)[:-1])


def _latest(root: str) -> tuple[int, list[str]]:
    """(version, relative file list) of the newest version; (-1, the glob
    listing) for a directory without a log."""
    try:
        names = os.listdir(os.path.join(root, LOG_DIR))
    except (FileNotFoundError, NotADirectoryError):
        names = []
    versions = [int(n[:-5]) for n in names if n.endswith(".json") and n[:-5].isdigit()]
    if not versions:
        files = glob.glob(os.path.join(root, "**", "*.scbf"), recursive=True)
        return -1, sorted(os.path.relpath(f, root) for f in files if not _under_scratch(root, f))
    version = max(versions)
    with open(os.path.join(root, LOG_DIR, f"{version}.json")) as f:
        return version, json.load(f)["files"]


def current_files(root: str) -> list[str]:
    """The dataset's files, as ``root``-joined paths in sorted order."""
    return [os.path.join(root, p) for p in _latest(root)[1]]


def commit(root: str, add=(), remove=()) -> int:
    """Publish the next version: the current files minus ``remove`` plus
    ``add`` (paths under ``root``). Returns the new version number."""
    log = os.path.join(root, LOG_DIR)
    os.makedirs(log, exist_ok=True)
    add = {os.path.relpath(p, root) for p in add}
    remove = {os.path.relpath(p, root) for p in remove}
    tmp = os.path.join(log, f".{uuid.uuid4().hex}.tmp")
    try:
        while True:
            version, files = _latest(root)
            gone = remove.difference(files)
            if gone:
                raise CommitConflict(
                    f"{root}: version {version} no longer holds {sorted(gone)[:5]} — "
                    "a concurrent commit removed them"
                )
            with open(tmp, "w") as f:
                json.dump({"files": sorted(set(files).difference(remove).union(add))}, f)
            try:
                os.link(tmp, os.path.join(log, f"{version + 1}.json"))
                return version + 1
            except FileExistsError:
                continue  # another writer published this version: rebase on it
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def publish(root: str, moves=(), remove=(), add=()) -> None:
    """Change ``root``'s file set in one version: move each ``(src, dst)``
    of ``moves`` in beside the data, ``commit`` the moved files and ``add``
    (files already in place) with ``remove`` taken out, then unlink what
    was removed. A log-less listing is pinned as version 0 first, so that
    the moved files stay invisible until the commit."""
    if _latest(root)[0] < 0:
        commit(root)
    for src, dst in moves:
        os.replace(src, dst)
    commit(root, [dst for _src, dst in moves] + list(add), remove)
    for f in remove:
        os.unlink(f)
