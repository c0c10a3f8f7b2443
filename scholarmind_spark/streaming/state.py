"""Versioned fold state: the one module that knows its on-disk layout.

The streaming folds in :mod:`streaming.pipeline` (sketch, dedup ledger,
vector index) and the two retire transactions keep their state under one
``state_path`` in one of three layouts, all exactly-once per stream batch.

Rename layout (``stream_fold_sketch_state(commit="rename")``, the default,
and ``stream_merge_to_snapshot``): ``state_path`` itself holds the parquet
files.  A fold writes the new state to ``<state_path>.staging-<batch id>``
and swaps it in with renames ordered so every failure point leaves a
recoverable state: move current aside (``.old``), move staging in, drop
``.old``.  A crash between the two moves leaves only ``.old``, which the
next batch restores before folding; rmtree-then-rename would lose the whole
state at that point.  The swap uses driver-local ``os`` renames, so the path
must be on a shared POSIX filesystem; object stores have no atomic
directory rename.  The exactly-once mark is ONE ``_folded_<lineage>_<batch
id>`` file inside the staged directory: underscore-prefixed (invisible to
Spark's parquet reader), atomic with the swap because it travels inside the
renamed directory, O(1) forever because batch ids are monotone within a
lineage.

Manifest layouts: immutable version directories ``v-<n>/`` plus one small
``MANIFEST`` file whose atomic replacement (staged write + ``os.replace``
here; a conditional PUT on an object store) is the only primitive the
protocol needs.  Readers resolve the manifest, then read exactly the
versions it names.  A crash at any point before the publish leaves the
previous version live; the orphan version directory is overwritten by the
retried batch (batch ids are stable) and collected after the next publish.
The lineage and the folded-upto high-water mark travel inside the manifest,
so mark and data publish in the same atomic step.  Two line formats:

- copy-on-write, ``"{v} {lineage} {upto}"``: ``v-<n>`` holds the whole
  state (the sketch fold's ``commit="manifest"``; the ledger's ``fp/`` and
  ``counts/`` pair, which only a manifest can publish together — two
  directory renames are never atomic as a pair);
- merge-on-read, ``"mor {v} {lineage} {upto} {base}"``: readers resolve
  versions ``[base..v]``.  ``v-<base>`` holds a base (ledger ``fp/`` +
  ``counts/``; vector ``enc/`` + ``cellmap/``), every later version only its
  delta (ledger ``dfp/`` + ``dcounts/``; vector ``denc/``), so a fold writes
  O(batch) and every ``compact_every`` versions a compaction writes a new
  base.  The extra field is what lets copy-on-write and merge-on-read folds
  and readers refuse each other's state.

Each version directory may carry one-line sidecar files: ``nbuckets.txt``
(ledger base bucket count), ``encmode.txt`` (vector encoding mode, frozen at
creation), ``frags.txt`` (live vector base fragments), ``encschema.txt``
(vector enc schema, JSON) and ``compactevery.txt`` (the fold's compaction
cadence, so an out-of-band retire honours the same delta-stack bound).

GC runs after each publish.  It keeps every version at or above a floor —
the previous manifest's whole chain survives one cycle, because a reader
that resolved the old manifest mid-publish may still be scanning it — plus
an explicit keep-set (vector base fragments referenced by the current
cellmap, which may be arbitrarily older than the base).  Only true
``v-<digits>`` directories are candidates: GC runs after the commit, so a
stray entry must never fail a batch whose state is already published.

Lineage: batch ids only mean something within one checkpoint, so every
mark carries the checkpoint's identity, a random token minted into
``<checkpoint>/_sketchfold_lineage`` on first use (:func:`fold_lineage`).
A wiped-and-recreated checkpoint restarts batch ids at 0 under a new token,
and the gate refuses instead of silently skipping (dropping) or
double-counting batches.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import tempfile
import uuid
from dataclasses import dataclass

SKIP = object()  # fold_gate: the batch id was already folded

_MARKER_RE = re.compile(r"^_folded_([0-9a-f]{8})_(\d+)$")


@dataclass(frozen=True)
class Manifest:
    """One published state: ``version`` (None for a rename-layout mark),
    the checkpoint ``lineage``, the folded-upto batch id, and the base
    version of a merge-on-read chain (None for copy-on-write)."""

    version: int | None
    lineage: str
    upto: int
    base: int | None = None


def version_dir(state_path: str, version: int) -> str:
    return os.path.join(state_path, f"v-{version}")


def chain_dirs(state_path: str, base: int, upto: int, part: str) -> list[str]:
    """``part`` of every delta version after ``base`` up to ``upto``."""
    return [
        os.path.join(version_dir(state_path, i), part)
        for i in range(base + 1, upto + 1)
    ]


def has_parquet(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )


def read_manifest(
    state_path: str, layout: str | None = None, what: str = "ledger"
) -> Manifest | None:
    """The published manifest, or None.  ``layout`` (``"cow"`` | ``"mor"``)
    refuses the other line format: a copy-on-write reader of merge-on-read
    state would read the base as the whole state and drop every delta.
    ``what`` picks the refusal's remedy — "fold it with mode='cow'" only
    makes sense for the ledger; a vector index pointed at a copy-on-write
    manifest has been pointed at some other state's directory."""
    mp = os.path.join(state_path, "MANIFEST")
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        parts = f.read().split()
    mor = parts[:1] == ["mor"]
    if layout == "cow" and mor:
        raise ValueError(
            f"state at {state_path} is merge-on-read; fold it with "
            "mode='mor' (and read it with ledger_state_mor), or start "
            "a fresh state_path"
        )
    if layout == "mor" and not mor:
        if what == "vector index":
            raise ValueError(
                f"state at {state_path} carries a copy-on-write ledger "
                "manifest, not a vector-index state — point the index "
                "at a fresh state_path and re-fold the corpus into it"
            )
        raise ValueError(
            f"state at {state_path} is copy-on-write; fold it with "
            "mode='cow' (and read it with ledger_state_dirs), or start "
            "a fresh state_path"
        )
    if mor:
        _, v, lineage, upto, base = parts
        return Manifest(int(v), lineage, int(upto), int(base))
    v, lineage, upto = parts
    return Manifest(int(v), lineage, int(upto))


def publish_manifest(state_path: str, m: Manifest) -> None:
    """Atomically point the manifest at ``m``: THE commit."""
    line = f"{m.version} {m.lineage} {m.upto}"
    if m.base is not None:
        line = f"mor {line} {m.base}"
    mp = os.path.join(state_path, "MANIFEST")
    tmp = f"{mp}.tmp-{m.version}"
    with open(tmp, "w") as f:
        f.write(line + "\n")
    os.replace(tmp, mp)


def read_marker(path: str) -> tuple[str, int] | None:
    """(lineage, folded-upto) of a rename-layout state directory."""
    if os.path.isdir(path):
        for f in os.listdir(path):
            mk = _MARKER_RE.match(f)
            if mk:
                return mk.group(1), int(mk.group(2))
    return None


def write_marker(path: str, lineage: str, batch_id: int) -> None:
    open(os.path.join(path, f"_folded_{lineage}_{batch_id}"), "w").close()


def fold_gate(
    state_path: str, lineage: str, batch_id: int, layout: str, what: str
):
    """The pre-fold exactly-once discipline, for every layout
    (``"rename"`` | ``"cow"`` | ``"mor"``).  Returns the current
    :class:`Manifest` (None if nothing was folded yet) or :data:`SKIP` for
    a re-delivered batch id.

    Refuses a foreign checkpoint lineage and any state in another layout:
    a rename fold would rmtree a manifest state's MANIFEST and every
    version dir; a manifest fold would ignore loose parquet, its marker, or
    a state parked at ``.old`` by an interrupted swap (the rename fold
    self-heals that window) and publish v-0 holding one batch."""
    if layout == "rename":
        recover_swap(state_path)
        if os.path.exists(os.path.join(state_path, "MANIFEST")):
            raise ValueError(
                f"state at {state_path} is manifest-committed; folding "
                "it with commit='rename' would destroy it — resume with "
                "commit='manifest', or start a fresh state_path"
            )
        mk = read_marker(state_path)
        head = Manifest(None, *mk) if mk else None
    else:
        os.makedirs(state_path, exist_ok=True)
        head = read_manifest(state_path, layout, what)
        if head is None and (
            os.path.isdir(f"{state_path}.old")
            or any(
                f.endswith(".parquet") or f.startswith("_folded_")
                for f in os.listdir(state_path)
            )
        ):
            raise ValueError(
                f"state at {state_path} is rename-committed; folding it "
                + (
                    "with commit='manifest' would orphan it — resume with "
                    "commit='rename', or start a fresh state_path"
                    if layout == "cow"
                    else f"as a merge-on-read {what} would orphan it — "
                    "start a fresh state_path"
                )
            )
    if head is None:
        return None
    if head.lineage != lineage:
        raise ValueError(
            f"{what} state at {state_path} was folded under a "
            "different checkpoint lineage; batch ids from this "
            "checkpoint cannot be deduplicated against it — "
            "resume with the original checkpoint, or fold into "
            "a fresh state_path"
        )
    return SKIP if batch_id <= head.upto else head


def write_sidecar(state_path: str, version: int, name: str, text: str) -> None:
    with open(os.path.join(version_dir(state_path, version), name), "w") as f:
        f.write(text if text.endswith("\n") else text + "\n")


def read_sidecar(state_path: str, version: int, name: str) -> str | None:
    p = os.path.join(version_dir(state_path, version), name)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return f.read().strip()


def gc_versions(state_path: str, floor: int, keep=()) -> None:
    """Drop version dirs below ``floor`` that are not in ``keep``, and
    the MANIFEST.tmp-* files a crashed publish orphaned."""
    for f in os.listdir(state_path):
        p = os.path.join(state_path, f)
        if f.startswith("v-") and f[2:].isdigit() and os.path.isdir(p):
            if int(f[2:]) < floor and int(f[2:]) not in keep:
                shutil.rmtree(p, ignore_errors=True)
        elif f.startswith("MANIFEST.tmp-"):
            try:
                os.remove(p)
            except OSError:
                pass


def recover_swap(path: str) -> None:
    """Restore a state an interrupted :func:`rename_swap` parked aside."""
    if not os.path.isdir(path) and os.path.isdir(f"{path}.old"):
        os.rename(f"{path}.old", path)


def rename_swap(path: str, batch_id: int, write) -> None:
    """Stage ``write(staging_dir)`` and swap it in for ``path``.  A failed
    write removes its staging dir, so the retried batch re-stages from
    scratch."""
    staging, old = f"{path}.staging-{batch_id}", f"{path}.old"
    try:
        write(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if os.path.isdir(old):  # leftover from an interrupted final step
        shutil.rmtree(old)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(staging, path)
    if os.path.isdir(old):
        shutil.rmtree(old)


def _state_lineage(state_path: str) -> str | None:
    """The lineage an existing state was folded under, in any layout
    (including a state parked at ``.old``), or None."""
    m = read_manifest(state_path)
    if m is not None:
        return m.lineage
    mk = read_marker(state_path) or read_marker(f"{state_path}.old")
    return mk[0] if mk else None


def fold_lineage(checkpoint: str, state_paths: tuple[str, ...] = ()) -> str:
    """The checkpoint's identity token, minted into
    ``<checkpoint>/_sketchfold_lineage`` on first use and read back on
    every resume.  The file shares the checkpoint's fate, which a
    path-derived tag would not: a recreated checkpoint at the same path
    restarts batch ids at 0 but would keep the tag, and every batch id
    below the stored mark would be silently skipped.  Single writer by
    Spark's contract; the write is staged + renamed so a crash never
    leaves a torn tag.

    Legacy migration: tags used to be ``md5(abspath(checkpoint))[:8]``
    with no identity file.  On first use of an identity-less checkpoint,
    if any of ``state_paths`` carries that derived tag, adopt it — the
    match proves state and checkpoint were already paired, and a fresh
    token would make the resume the lineage error advises fail.  A
    non-matching mark gets a fresh token and the gate refuses, as it
    must."""
    os.makedirs(checkpoint, exist_ok=True)
    lf = os.path.join(checkpoint, "_sketchfold_lineage")
    if os.path.exists(lf):
        with open(lf) as f:
            return f.read().strip()
    tag = uuid.uuid4().hex[:8]
    legacy = hashlib.md5(os.path.abspath(checkpoint).encode()).hexdigest()[:8]
    if any(_state_lineage(sp) == legacy for sp in state_paths):
        tag = legacy
    tmp = f"{lf}.tmp-{tag}"
    with open(tmp, "w") as f:
        f.write(tag)
    os.rename(tmp, lf)
    for stray in os.listdir(checkpoint):
        if stray.startswith("_sketchfold_lineage.tmp-"):
            try:
                os.remove(os.path.join(checkpoint, stray))
            except OSError:
                pass
    return tag


def start_fold_stream(
    stream_df, make_fold, checkpoint: str | None, prefix: str,
    state_path: str | None = None,
):
    """Start ``make_fold(lineage)`` as a foreachBatch availableNow stream
    on ``checkpoint`` (a fresh temp dir named ``prefix*`` if None).  The
    lineage is :func:`fold_lineage` of the checkpoint when ``state_path``
    is given, else None (a keyed upsert is idempotent without one)."""
    ck = checkpoint or tempfile.mkdtemp(prefix=prefix)
    lineage = fold_lineage(ck, (state_path,)) if state_path is not None else None
    return (
        stream_df.writeStream.foreachBatch(make_fold(lineage))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
