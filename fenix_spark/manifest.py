"""Manifest-file commits for catalog directories — the ``versions.py``
``_LATEST`` pattern generalized so ANY rewrite-in-place maintenance op
(``catalog.compact``, ``catalog.refresh_bloom_index``) is crash-safe on
object stores, not just POSIX filesystems.

The old protocols were rename dances: write a sibling dir, move the
live dir aside, move the new one in. On POSIX that's two atomic
renames; on an object store a directory "rename" is a non-atomic
copy+delete per object, and a crash mid-swap leaves a torn or missing
table. This module removes every data rename:

    <path>/_gen-000001/           immutable generation (parquet files)
    <path>/_gen-000002/
    <path>/_CURRENT               one line: the committed generation id

- Writers write a NEW generation directory in place (``begin`` names
  it, the caller fills it). Generation dirs are underscore-prefixed,
  so Spark's recursive file listing never surfaces them to a reader of
  ``<path>`` — an uncommitted generation is invisible by construction,
  no staging rename needed.
- ``commit`` is ONE single-file pointer write (``os.replace`` of a
  temp file locally — the same operation is a single object PUT on an
  object store, which is atomic per se). Readers resolving through
  ``resolve`` see the old complete generation or the new complete
  generation, never a mix.
- ``vacuum`` deletes superseded generations and any pre-manifest flat
  data files — pure garbage collection AFTER the commit, so a crash
  during cleanup costs storage, never correctness.

Legacy layout stays first-class: ``resolve`` on a directory without a
``_CURRENT`` pointer returns the directory itself, so existing flat
tables read unchanged and only adopt the manifest on their first
maintenance rewrite.

Stated contract (same as versions.py): SINGLE WRITER per directory —
generation ids are assigned by listing, so concurrent maintenance
writers can race to the same id. Readers are always safe; writer
serialization (e.g. pause a streaming ingest while compacting its
table) is the scheduler's job.
"""

from __future__ import annotations

import os
import shutil
import tempfile

__all__ = [
    "CURRENT_POINTER",
    "begin",
    "commit",
    "current_gen",
    "list_gens",
    "resolve",
    "vacuum",
]

CURRENT_POINTER = "_CURRENT"
_GEN_PREFIX = "_gen-"


def _gen_dir(path: str, gen: int) -> str:
    return os.path.join(path, f"{_GEN_PREFIX}{gen:06d}")


def list_gens(path: str) -> list[int]:
    """All generation ids present on disk (committed or not)."""
    if not os.path.isdir(path):
        return []
    out = []
    for e in os.listdir(path):
        if e.startswith(_GEN_PREFIX):
            try:
                out.append(int(e[len(_GEN_PREFIX) :]))
            except ValueError:
                continue
    return sorted(out)


def _read_pointer(path: str) -> tuple[int | None, int | None]:
    """(committed gen, superseded predecessor) from the pointer file.
    The second line records what the commit REPLACED — ``0`` means the
    flat legacy layout — and is what vacuum's retention window keeps.
    Single-line pointers (pre-retention stores) have no recorded
    predecessor."""
    p = os.path.join(path, CURRENT_POINTER)
    if not os.path.exists(p):
        return None, None
    with open(p) as f:
        lines = f.read().split()
    cur = int(lines[0])
    prev = int(lines[1]) if len(lines) > 1 else None
    return cur, prev


def current_gen(path: str) -> int | None:
    """The committed generation id, or None for legacy flat layout."""
    return _read_pointer(path)[0]


def resolve(path: str) -> str:
    """The directory a reader should scan: the committed generation
    when a manifest exists, else ``path`` itself (legacy flat layout).
    A pointer naming a missing generation raises loudly — that state
    is unreachable through this module's protocol (vacuum never
    deletes the committed generation), so it means external damage,
    not a torn commit."""
    return _resolve_gen(path)[1]


def _resolve_gen(path: str) -> tuple[int | None, str]:
    """(committed gen or None, directory to scan) from ONE pointer
    read, so a commit landing between two reads cannot pair one
    generation's id with another's directory."""
    gen = current_gen(path)
    if gen is None:
        return None, path
    d = _gen_dir(path, gen)
    if not os.path.isdir(d):
        raise FileNotFoundError(
            f"manifest at {path} names generation {gen} but {d} is missing"
        )
    return gen, d


def begin(path: str) -> tuple[int, str]:
    """Allocate the next generation: returns ``(gen, dir)``. The
    caller writes the full new contents into ``dir`` and then calls
    ``commit(path, gen)``. Ids advance past BOTH the committed pointer
    and any on-disk orphan (a crashed writer's dir is never reused —
    it is swept by the next ``vacuum``)."""
    os.makedirs(path, exist_ok=True)
    cur = current_gen(path) or 0
    gens = list_gens(path)
    gen = max([cur, *gens]) + 1
    return gen, _gen_dir(path, gen)


def commit(path: str, gen: int) -> None:
    """Atomically flip the pointer to ``gen`` — one single-file write
    (``os.replace`` locally; one object PUT on an object store). The
    generation directory must be fully written before this call.

    The pointer's second line records what this commit superseded (the
    previous committed generation, or ``0`` for the flat legacy
    layout): that is the ONE prior layout vacuum's retention window
    keeps for readers that resolved it just before the flip. Orphans —
    generation dirs never named by a pointer — carry no such claim and
    are swept immediately."""
    d = _gen_dir(path, gen)
    if not os.path.isdir(d):
        raise FileNotFoundError(f"cannot commit {path} gen {gen}: {d} not written")
    prev = current_gen(path) or 0
    fd, tmp = tempfile.mkstemp(dir=path, prefix="._current_")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(f"{gen}\n{prev}")
        os.replace(tmp, os.path.join(path, CURRENT_POINTER))
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def vacuum(path: str) -> list[str]:
    """Garbage-collect what the committed generation superseded:
    orphaned generation dirs (never named by a pointer), stray pointer
    temps, and — beyond the RETENTION WINDOW — the previously-committed
    layout. Never touches the committed generation or unrelated
    underscore/dot entries (``_bloom`` indexes, ``_SUCCESS`` markers).
    Safe to re-run; a crash mid-vacuum leaves only extra garbage for
    the next run.

    The window is the ONE layout the pointer records as superseded
    (the previous committed generation, or the flat legacy files): it
    exists because commit and expiry are different events — a reader
    that resolved the previous layout just before the pointer flipped
    may still be mid-scan when the committing writer vacuums. A
    superseded layout is therefore only deleted by the FOLLOWING
    commit's vacuum, the same separation lakehouse formats draw
    between commit and log expiry. A read must still not straddle TWO
    maintenance rewrites of the same table."""
    cur, prev = _read_pointer(path)
    if cur is None or not os.path.isdir(path):
        return []
    keep = f"{_GEN_PREFIX}{cur:06d}"
    retained = {f"{_GEN_PREFIX}{prev:06d}"} if prev else set()
    flat_retained = prev == 0
    removed: list[str] = []
    for e in sorted(os.listdir(path)):
        full = os.path.join(path, e)
        if e.startswith(_GEN_PREFIX) and e != keep and e not in retained:
            # orphans (any id) and beyond-window older generations
            shutil.rmtree(full)
            removed.append(e)
        elif e.startswith("._current_"):
            os.remove(full)
            removed.append(e)
        elif e == "_spark_metadata" and not flat_retained:
            # a pre-compaction file-sink transaction log: superseded by
            # the manifest (stream_ingest refuses manifest-managed
            # tables, so no live sink owns it) and misleading to any
            # log-trusting reader of the flat path — swept with the
            # flat layout it describes
            shutil.rmtree(full)
            removed.append(e)
        elif not e.startswith(("_", ".")) and not flat_retained:
            # legacy flat layout superseded by the manifest
            if os.path.isfile(full):
                os.remove(full)
            else:
                shutil.rmtree(full)
            removed.append(e)
    return removed


# package-namespace aliases: bare ``vacuum``/``resolve`` would collide
# with versions.vacuum / shadow common names in `import fenix_spark`
manifest_resolve = resolve
manifest_begin = begin
manifest_commit = commit
manifest_vacuum = vacuum
