"""Naming scheme of the scratch directories that older versions of in-place
table maintenance (operators/merge.py, operators/compact.py) staged into and
swapped from, kept so that ``vacuum`` and the DataSource can still recognise
what such a run left behind in an old dataset. New runs commit through the
dataset log (``sources/dataset_log.py``) and create none of these.

Staging and backup directories were **dot-prefixed siblings** of the
dataset directory they belonged to: ``root/k=v`` staged to
``root/.k=v.compact-tmp`` and was backed up to ``root/.k=v.compact-old``.
Before that the same names were not hidden (``root/k=v.compact-tmp``).

``split_scratch`` maps a scratch path back to the dataset directory it was
staged for, which is what lets ``vacuum.vacuum`` refuse to delete a
``*-old`` backup that is the only surviving copy of data whose dataset
directory vanished mid-swap, and what ``vacuum.recover`` uses to rename that
backup back into place.
"""

from __future__ import annotations

import os

#: suffix order matters nowhere; kept alphabetical by operator
STAGING_SUFFIXES = (".compact-old", ".compact-tmp", ".merge-old", ".merge-tmp")


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
