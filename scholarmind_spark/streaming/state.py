"""Versioned fold state: the one module that knows its on-disk layout.

The streaming folds in :mod:`streaming.pipeline` (sketch, dedup ledger,
vector index) and the two retire transactions keep their state under one
``state_path`` in one of two layouts, each exactly-once per stream batch.

Rename layout (``stream_fold_sketch_state`` and
``stream_merge_to_snapshot``): ``state_path`` itself holds the parquet
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

Merge-on-read layout (``stream_ledger_ingest``, ``stream_vector_ingest``
and their retires, all through :func:`commit_mor`): immutable version
directories ``v-<n>/`` plus one small ``MANIFEST`` file whose atomic
replacement (staged write + ``os.replace`` here; a conditional PUT on an
object store) is the only primitive the protocol needs.  The manifest is
one line, ``"mor {v} {lineage} {upto} {base}"``; readers resolve versions
``[base..v]``.  ``v-<base>`` holds a base (ledger ``fp/`` + ``counts/``;
vector ``enc/`` + ``cellmap/``), every later version only its delta (ledger
``dfp/`` + ``dcounts/``; vector ``denc/``), so a fold writes O(batch) and
every ``compact_every`` versions a compaction writes a new base.  A crash at
any point before the publish leaves the previous version live; the orphan
version directory is overwritten by the retried batch (batch ids are
stable) and collected after the next publish.  The lineage and the
folded-upto high-water mark travel inside the manifest, so mark and data
publish in the same atomic step.  A line without the leading ``mor`` field
(the former copy-on-write ``"{v} {lineage} {upto}"`` format) is refused.

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
    """One published state: ``version``, the checkpoint ``lineage``, the
    folded-upto batch id, and the ``base`` version of the merge-on-read
    chain (``version`` and ``base`` are None for a rename-layout mark)."""

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


def read_manifest(state_path: str, what: str = "state") -> Manifest | None:
    """The published manifest, or None.  A line without the leading
    ``mor`` field (a copy-on-write manifest, whose ``v-<n>`` holds the
    whole state) is refused: read as merge-on-read it would mis-parse.
    ``what`` names the reader's state in the refusal."""
    mp = os.path.join(state_path, "MANIFEST")
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        parts = f.read().split()
    if parts[:1] != ["mor"]:
        raise ValueError(
            f"state at {state_path} carries a copy-on-write manifest, not "
            f"a {what} state ({what} state is merge-on-read only) — start "
            "a fresh state_path and re-fold the corpus into it"
        )
    _, v, lineage, upto, base = parts
    return Manifest(int(v), lineage, int(upto), int(base))


def publish_manifest(state_path: str, m: Manifest) -> None:
    """Atomically point the manifest at ``m``: THE commit."""
    mp = os.path.join(state_path, "MANIFEST")
    tmp = f"{mp}.tmp-{m.version}"
    with open(tmp, "w") as f:
        f.write(f"mor {m.version} {m.lineage} {m.upto} {m.base}\n")
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
    """The pre-fold exactly-once discipline, for both layouts
    (``"rename"`` | ``"mor"``).  Returns the current :class:`Manifest`
    (None if nothing was folded yet) or :data:`SKIP` for a re-delivered
    batch id.

    Refuses a foreign checkpoint lineage and the other layout's state: a
    rename fold would rmtree a manifest state's MANIFEST and every version
    dir; a merge-on-read fold would ignore loose parquet, its marker, or a
    state parked at ``.old`` by an interrupted swap (the rename fold
    self-heals that window) and publish v-0 holding one batch."""
    if layout == "rename":
        recover_swap(state_path)
        if os.path.exists(os.path.join(state_path, "MANIFEST")):
            raise ValueError(
                f"state at {state_path} is manifest-committed; folding it "
                f"as rename-layout {what} state would destroy it — start "
                "a fresh state_path"
            )
        mk = read_marker(state_path)
        head = Manifest(None, *mk) if mk else None
    else:
        os.makedirs(state_path, exist_ok=True)
        head = read_manifest(state_path, what)
        if head is None and (
            os.path.isdir(f"{state_path}.old")
            or any(
                f.endswith(".parquet") or f.startswith("_folded_")
                for f in os.listdir(state_path)
            )
        ):
            raise ValueError(
                f"state at {state_path} is rename-committed; folding it "
                f"as merge-on-read {what} state would orphan it — start a "
                "fresh state_path"
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


def commit_mor(
    state_path: str,
    head: Manifest | None,
    lineage: str,
    upto: int,
    compact_every: int | None,
    write_delta,
    write_base,
) -> None:
    """Write and publish the merge-on-read version after ``head`` (None:
    state creation) — the one commit of every merge-on-read fold and
    retire.  ``compact_every`` None (a retire) takes the cadence the fold
    recorded at ``head`` (``compactevery.txt``; a state without one never
    compacts after creation).  A new base is due on creation and once the
    chain since the base would reach ``compact_every`` versions; then
    ``write_base(new_v)`` writes ``v-<new_v>`` as a base, else
    ``write_delta(new_v)`` as a delta.  Each writer returns the versions
    below the GC floor that must survive.  The cadence is recorded
    again, the manifest published, and GC run."""
    version, base = (head.version, head.base) if head else (-1, -1)
    new_v = version + 1
    if compact_every is None and head is not None:
        txt = read_sidecar(state_path, version, "compactevery.txt")
        compact_every = int(txt) if txt else None
    compact = head is None or (
        compact_every is not None and new_v - base >= compact_every
    )
    keep = (write_base if compact else write_delta)(new_v)
    if compact_every is not None:
        write_sidecar(state_path, new_v, "compactevery.txt", str(compact_every))
    publish_manifest(
        state_path, Manifest(new_v, lineage, upto, new_v if compact else base)
    )
    gc_versions(state_path, max(base, 0), keep=keep)


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


def fold_lineage(checkpoint: str) -> str:
    """The checkpoint's identity token, minted into
    ``<checkpoint>/_sketchfold_lineage`` on first use and read back on
    every resume.  The file shares the checkpoint's fate, which a
    path-derived tag would not: a recreated checkpoint at the same path
    restarts batch ids at 0 but would keep the tag, and every batch id
    below the stored mark would be silently skipped.  Single writer by
    Spark's contract; the write is staged + renamed so a crash never
    leaves a torn tag."""
    os.makedirs(checkpoint, exist_ok=True)
    lf = os.path.join(checkpoint, "_sketchfold_lineage")
    if os.path.exists(lf):
        with open(lf) as f:
            return f.read().strip()
    tag = uuid.uuid4().hex[:8]
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
    lineage = fold_lineage(ck) if state_path is not None else None
    return (
        stream_df.writeStream.foreachBatch(make_fold(lineage))
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
