"""One crash-safe commit for every persisted snapshot and index.

A versioned store is a directory holding ``_v{n}`` data directories and
one POINTER file that names the live one: the streaming sinks' bare
``CURRENT`` (its text is the directory name) and each persisted index's
meta JSON (its ``"version"`` is ``n``). A commit

1. writes its data into a fresh ``_v{n}`` that nothing reads — never
   into the directory it reads its previous state from;
2. swaps the pointer atomically: a temp file, then ``os.replace``;
3. retires every other ``_v*`` except the new target and the previous
   pointer target, which a frame read before the swap may still scan.

A crash before step 2 leaves the old pointer naming its complete old
directory (the orphan goes at the next commit); a crash after it leaves
the new one. Readers never see a mix. This is qdrant's segment-version
switch (SURVEY.md §3: a segment becomes visible only once fully built).
"""

from __future__ import annotations

import os
import shutil


def version_dir(root: str, n: int) -> str:
    return os.path.join(root, f"_v{n}")


def fresh_version(root: str) -> int:
    """One past every ``_v{n}`` on disk, orphans of crashed commits
    included, so a commit never writes into a directory someone reads."""
    taken = [int(d[2:]) for d in _listdir(root)
             if d.startswith("_v") and d[2:].isdigit()]
    return max(taken, default=-1) + 1


def read_pointer(root: str, pointer: str) -> str | None:
    try:
        with open(os.path.join(root, pointer)) as f:
            return f.read().strip() or None
    except OSError:
        return None


def write_text(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` atomically: a reader sees the old
    content or the new one, never a truncated file."""
    tmp = os.path.join(os.path.dirname(path),
                       f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def commit(root: str, pointer: str, text: str, target: str,
           previous: str | None) -> None:
    """Point ``root/pointer`` at the already written ``target`` directory
    (``text`` is the pointer's new content), then keep only ``target``
    and ``previous`` of the ``_v*`` directories."""
    write_text(os.path.join(root, pointer), text)
    _retire(root, keep={target, previous})


def _retire(root: str, keep: set[str | None]) -> None:
    for d in _listdir(root):
        if d.startswith("_v") and d not in keep:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)


def _listdir(root: str) -> list[str]:
    try:
        return os.listdir(root)
    except FileNotFoundError:
        return []
