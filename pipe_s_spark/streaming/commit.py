"""The one file-commit primitive behind every streaming sink's state,
and the one reader and writer of the sinks' metadata files.

Each table directory (``root``) owns four dot-prefixed entries that
Spark's partition discovery never sees: ``._lock`` (the flock file),
``._journal`` (an in-flight swap), ``._trash`` (entries the swap
parked) and ``._stage`` (the ``locked_stage`` of a caller that stages
under the lock). ``lock(root)`` serializes threads and processes and
runs ``recover(root)`` on every entry, so every reader and writer sees
a finished swap.

A sink's own metadata is a small JSON file beside its data: a fence or
watermark (a bare integer, written as a ``commit`` file or by
``write_atomic``), or a layout or contract that ``pin`` records once
and verifies on every later open. ``read_json`` reads them all with
one error policy: a missing file is the caller's default, any other
error propagates, so a damaged fence never reads as "nothing applied
yet".

A swap (``commit``) is journal -> park -> install -> files -> clean:

- the caller writes its new entries into a ``stage`` directory it owns
  (outside the lock when it can; one stage per attempt), then calls
  ``commit`` under the lock after its own checks;
- the journal write is the point of no return: before it the table is
  untouched (an orphan stage at most), after it ``recover`` finishes
  the swap by re-running the same existence-checked steps, so a kill
  at any point leaves the old state or the new one, never a mix.

Scope: safe against a killed process, not against power loss (there is
no fsync anywhere).
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import uuid
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

#: every name ``fault`` is called with: the swap's own steps, then the
#: windows between two commits that callers order by hand
FAULT_POINTS = (
    "staged",
    "journaled",
    "mid-park",
    "mid-install",
    "files-written",
    "cleaned",
    "fold-committed",
)

_JOURNAL = "._journal"
_TRASH = "._trash"
_STAGE = "._stage"


def fault(point: str) -> None:
    """Test hook called at each ``FAULT_POINTS`` name; tests replace it
    with one that raises to simulate a kill there."""


def write_atomic(path: str, text: str) -> None:
    """Replace ``path`` with ``text`` in one rename (a unique tmp name,
    so concurrent writers never share a half-written file)."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)


def read_json(path: str, default=None):
    """The JSON value stored at ``path``, or ``default`` when the file
    is missing. Any other error propagates (the policy of
    ``epoch_log.epochs``)."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default


def pin(root: str, name: str, meta) -> None:
    """Pin ``root/name`` to ``meta``: the first caller records it, every
    later one must supply an equal value or get a ValueError naming
    both. Call under ``lock(root)``, so concurrent first callers
    serialize and a lost race verifies instead of overwriting."""
    path = os.path.join(root, name)
    disk = read_json(path)
    if disk is None:
        write_atomic(path, json.dumps(meta))
    elif disk != meta:
        raise ValueError(
            f"{path} pins {disk}; this caller supplied {meta}. Data written "
            "under one of them is read wrongly under the other: reopen with "
            "the pinned values or use a new path."
        )


def locked_stage(root: str) -> str:
    """The stage in ``root`` of a caller that stages under the lock:
    ``recover`` drops it when no journal names it (a pre-journal kill)."""
    return os.path.join(root, _STAGE)


@contextmanager
def lock(root: str) -> Iterator[None]:
    """Exclusive lock on ``root`` for threads and processes alike (a
    fresh open file per acquisition), with ``recover`` run first. Not
    re-entrant. Closing the file releases the lock."""
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(root, "._lock"), "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        recover(root)
        yield


def commit(
    root: str,
    stage: str,
    install: Sequence[str] = (),
    remove: Sequence[str] = (),
    files: dict[str, str] | None = None,
) -> None:
    """Swap ``stage/<name>`` in as ``root/<name>`` for every ``install``
    name (a missing staged entry installs as an empty directory), drop
    every ``remove`` name, and write each ``files`` entry (name ->
    text) into ``root``. Call under ``lock(root)``."""
    for name in install:
        os.makedirs(os.path.join(stage, name), exist_ok=True)
    fault("staged")
    journal = {
        "stage": os.path.abspath(stage),
        "install": list(install),
        "remove": list(remove),
        "files": files or {},
    }
    write_atomic(os.path.join(root, _JOURNAL), json.dumps(journal))
    fault("journaled")
    _roll_forward(root, **journal)


def recover(root: str) -> None:
    """Finish a journaled swap, or purge the trash and locked stage."""
    journal = read_json(os.path.join(root, _JOURNAL))
    if journal is None:
        for name in (_TRASH, _STAGE):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        return
    _roll_forward(root, **journal)


def _roll_forward(
    root: str, stage: str, install: list, remove: list, files: dict
) -> None:
    """Every step checks what exists first, so a re-run after a kill at
    any point converges. An install name whose staged copy is gone is
    already live and must not be parked again."""
    trash = os.path.join(root, _TRASH)
    os.makedirs(trash, exist_ok=True)
    park = [n for n in remove if n not in install]
    park += [n for n in install if os.path.isdir(os.path.join(stage, n))]
    _move(park, root, trash, "mid-park")
    _move(install, stage, root, "mid-install")
    for name, text in files.items():
        write_atomic(os.path.join(root, name), text)
    fault("files-written")
    shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(stage, ignore_errors=True)
    fault("cleaned")
    os.remove(os.path.join(root, _JOURNAL))


def _move(names: list, src: str, dst: str, point: str) -> None:
    """Move each ``src/<name>`` that exists to ``dst/<name>``. ``point``
    fires after the first name, or at once when there is none, so every
    swap passes every kill point."""
    if not names:
        fault(point)
    for i, name in enumerate(names):
        if os.path.isdir(os.path.join(src, name)):
            os.rename(os.path.join(src, name), os.path.join(dst, name))
        if i == 0:
            fault(point)
