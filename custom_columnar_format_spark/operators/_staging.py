"""Shared naming scheme for the scratch artifacts of in-place table
maintenance (operators/merge.py, operators/compact.py) and their cleanup
(operators/vacuum.py).

Staging and backup directories are **dot-prefixed siblings** of the dataset
directory they belong to: ``root/k=v`` stages to ``root/.k=v.compact-tmp``.
Two properties follow:

- the recursive ``*.scbf`` glob in the DataSource's file lister never sees
  them (``glob`` does not match hidden components), so a crash between the
  staged write and the swap — or a concurrent reader during the swap window —
  can never ingest half-written or duplicate rows as data;
- a hive partition directory's scratch lives NEXT TO the partition, not
  inside the dataset as a fake ``k=v.compact-tmp`` partition component.

``swap_into_place`` is the backup-and-rename step both operators finish
with. ``split_scratch`` maps a scratch path back to the dataset directory it
was staged for (supporting the legacy non-hidden naming too), which is what
lets ``vacuum.vacuum`` refuse to delete a ``*-old`` backup that is the only
surviving copy of data whose dataset directory vanished mid-swap, and what
``vacuum.recover`` uses to rename that backup back into place.
"""

from __future__ import annotations

import os
import shutil

#: suffix order matters nowhere; kept alphabetical by operator
STAGING_SUFFIXES = (".compact-old", ".compact-tmp", ".merge-old", ".merge-tmp")


def staging_path(dataset_dir: str, suffix: str) -> str:
    """Hidden sibling scratch path for ``dataset_dir``:
    ``/data/root/k=v`` + ``.compact-tmp`` → ``/data/root/.k=v.compact-tmp``."""
    parent, base = os.path.split(os.path.abspath(dataset_dir))
    return os.path.join(parent, "." + base + suffix)


def swap_into_place(dataset_dir: str, staging: str, suffix: str) -> None:
    """Replace ``dataset_dir`` with the fully written ``staging`` directory.
    The old one is renamed to its ``suffix`` backup (``.compact-old`` /
    ``.merge-old``, which ``vacuum.recover`` keys on), and only its
    ``_``-prefixed dataset metadata (snapshot manifests etc.) is carried over
    before the backup is deleted — snapshots that reference old data files
    fail loudly at read (operators/snapshot.py's retention contract). The
    swap is a rewrite's LAST step, so a crash before it leaves the dataset
    untouched and ``vacuum.recover`` heals a crash inside it."""
    backup = staging_path(dataset_dir, suffix)
    shutil.rmtree(backup, ignore_errors=True)  # stale backup from a prior crash
    os.rename(dataset_dir, backup)
    os.rename(staging, dataset_dir)
    for name in os.listdir(backup):
        if name.startswith("_"):
            os.rename(os.path.join(backup, name), os.path.join(dataset_dir, name))
    shutil.rmtree(backup)


def split_scratch(path: str) -> tuple[str, str] | None:
    """If ``path`` is a scratch artifact, return (dataset_dir, suffix), else
    None. Accepts both the hidden naming above and the legacy visible naming
    (``<dataset><suffix>``)."""
    base = os.path.basename(os.path.abspath(path))
    for suffix in STAGING_SUFFIXES:
        if base.endswith(suffix):
            stem = base[: -len(suffix)]
            if stem.startswith("."):
                stem = stem[1:]
            if not stem:
                return None
            return os.path.join(os.path.dirname(os.path.abspath(path)), stem), suffix
    return None


def is_scratch_component(name: str) -> bool:
    """True for path components that must never be treated as data or as a
    hive partition directory: hidden names and scratch-suffixed names."""
    return name.startswith(".") or name.endswith(STAGING_SUFFIXES)
