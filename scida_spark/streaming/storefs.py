"""Filesystem layer shared by every streaming store (r12, closes r11
VERDICT "What's missing" — one documented home for the local-FS
assumption, and r11 ADVICE #2 — crash-safe compaction).

THE LOCAL-FS CONTRACT (the one place it lives): the five incremental
stores (``streaming/postings.py``, the rollup / heavy-hitter /
reservoir stores in ``streaming/rollup.py``, and the span index in
``streaming/ingest.py``) keep per-micro-batch partials as
``batch_id=N`` parquet directories under a store root, and their
compactions fold those partials into one base partial ``batch_id=-1``.
Stores are local-filesystem only: the fold's directory shuffle
(list / delete / rename) runs DRIVER-SIDE through ``os`` / ``shutil``
on a local or posix-mounted store directory, and Spark reads and
writes the partials at the same local paths.

CRASH SAFETY: a compaction that deletes batch partials before the
compacted base is in place can lose data. :func:`promote_compacted`
therefore stages the fold as

1. caller writes the compacted base to ``<root>/_compact_tmp``
   (underscore prefix — invisible to Spark's directory listing, so
   readers never see a half-written fold),
2. a manifest of the folded batch dirs is written ATOMICALLY
   (tmp + ``os.replace``) — from this point the tmp dir is
   authoritative for the listed batches,
3. the listed batch dirs (and any stale base) are deleted,
4. ``_compact_tmp`` is renamed to ``batch_id=-1``,
5. the manifest is removed.

A crash anywhere leaves a deterministic repair: before step 2 the
store is untouched (scratch is dropped); after step 2
:func:`recover_pending` replays steps 3-5 from the manifest. Nothing
is ever silently dropped and no crash window double-counts a served
read (the tmp dir Spark cannot list holds the only copy of folded
rows between steps 3 and 4, and the manifest guarantees it gets
promoted). Every ``compact_*`` entry point calls
:func:`recover_pending` first, so an interrupted fold self-heals on
the next maintenance cycle.

MULTI-SUBSTORE TRANSACTIONS (r13, closes r12 ADVICE #3): a store
whose substores must move together (postings + doclen + stats +
tombstone-clear) stages ALL substore folds first, then commits them
with ONE store-level manifest (:func:`promote_txn`). The single
atomic manifest write is the commit point for the whole compaction,
so a crash can never leave one substore folded (tombstones applied)
while a sibling still carries the pre-delete partials — the exact
window that made ``read_corpus_stats`` overcount between a promoted
doclen and an unfolded stats substore. Recovery
(:func:`recover_store`) replays the full plan, including the
tombstone clear.

CONCURRENCY CONTRACT (r13, closes r12 ADVICE #4): maintenance is
SINGLE-WRITER. Each ``compact_*`` entry point takes a pid-liveness
lock (:func:`maintenance_lock`, ``_maintenance.lock`` beside the
store) for the whole fold; a second maintainer raises rather than
corrupting the first's scratch. Readers stay lock-free: their
``recover_pending`` / ``recover_store`` calls return False while a
LIVE lock is held (the maintainer owns any manifest/scratch — a
reader must not delete the compactor's ``_compact_tmp`` or race its
``os.replace``), and only heal state whose owner is provably dead
(pid gone — the local-FS analog of a lease; swap the pid probe for a
lease timestamp on a shared filesystem). A read overlapping a live
compaction's promote window may observe the fold mid-swap (some
batch dirs retired, base not yet renamed) — run maintenance in a
quiet window if serve-time blips matter; the store itself is never
durably inconsistent.

DERIVED STORES: on-disk state derived from the input tables (the
query layer's cert stores, stream copies and layout copies) is located,
keyed, committed and reused by :func:`derived_store` alone. Every
store lives under one root, ``<tempfile.gettempdir()>/scida_spark_stores``,
at ``<name>-<sha(inputs)[:12]>``, and is served only while its
``_STORE.json`` records this code version (:func:`code_digest`) and
the same inputs; anything else (a torn manifest, another code
version, a half-built scratch dir) is rebuilt, never served. Deleting
the root forces every store to rebuild. Per-call working dirs come
from :func:`scratch`, under the same root.

Net-new surface (no reference counterpart; SURVEY §2.7).
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import hashlib
import json
import os
import shutil
import tempfile

__all__ = [
    "TMP_DIR",
    "MANIFEST",
    "TXN_MANIFEST",
    "LOCK_FILE",
    "list_batches",
    "scratch_dir",
    "promote_compacted",
    "promote_txn",
    "recover_pending",
    "recover_store",
    "maintenance_lock",
    "write_json_atomic",
    "read_json",
    "STORE_MANIFEST",
    "code_digest",
    "derived_store",
    "scratch",
]


TMP_DIR = "_compact_tmp"
MANIFEST = "_compact_manifest.json"
TXN_MANIFEST = "_txn_manifest.json"
LOCK_FILE = "_maintenance.lock"
BASE_DIR = "batch_id=-1"


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _replace_dir(src: str, dst: str) -> None:
    """Replace directory ``dst`` with ``src``: delete, then rename —
    atomic enough because the caller's manifest makes any crash
    replayable."""
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    os.replace(src, dst)


def _lock_acquire(path: str, data: bytes) -> bool:
    """Atomically create ``path`` with ``data`` iff absent (the
    single-writer lock publish, via link(2))."""
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def list_batches(root: str) -> list[str]:
    """Non-base ``batch_id=N`` partial dirs under ``root`` (sorted for
    deterministic manifests)."""
    return sorted(
        d
        for d in os.listdir(root)
        if d.startswith("batch_id=") and d != BASE_DIR
    )


def scratch_dir(root: str) -> str:
    """Where a compaction writes its folded base before promotion —
    underscore-prefixed so Spark's file listing never picks it up."""
    return os.path.join(root, TMP_DIR)


def write_json_atomic(path: str, obj) -> None:
    """Atomic publish (tmp + ``os.replace``) so readers never observe
    a torn file."""
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(json.dumps(obj).encode())
    os.replace(tmp, path)


def read_json(path: str):
    with open(path, "rb") as f:
        return json.load(f)


def _pid_alive(pid: int) -> bool:
    """Signal-0 probe — the local-FS analog of a lease check. A pid we
    may not signal (EPERM) still EXISTS, so it counts as alive."""
    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # pragma: no cover - other-user pid
        return True
    return True


STORE_MANIFEST = "_STORE.json"


def _store_root() -> str:
    root = os.path.join(tempfile.gettempdir(), "scida_spark_stores")
    os.makedirs(root, exist_ok=True)
    return root


@functools.cache
def code_digest() -> str:
    """sha256 over the package's ``.py`` sources (relative path and
    bytes, in sorted order): the code version a derived store records.
    Computed on first use, once per process."""
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, pkg).encode() + b"\0")
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def _new_scratch(root: str, name: str) -> str:
    """A fresh ``_<name>-<pid>-<random>`` dir under ``root``. The
    underscore keeps it out of every store path, and the pid lets the
    sweep here remove the dirs of processes that are gone (a killed
    build, a call whose process exited without cleanup)."""
    for d in os.listdir(root):
        parts = d.rsplit("-", 2)
        if d.startswith("_") and len(parts) == 3 and parts[1].isdigit():
            if not _pid_alive(int(parts[1])):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"_{name}-{os.getpid()}-", dir=root)


def scratch(name: str) -> str:
    """A working dir of its own for one call, under the store root. It
    lasts until this process exits (lazy frames may still read it), and
    is removed then, or by a later sweep if the process was killed."""
    d = _new_scratch(_store_root(), name)
    atexit.register(shutil.rmtree, d, True)
    return d


def _served(path: str, inputs) -> dict | None:
    """The manifest of the store at ``path`` if it may be served: it
    parses and records this code version and these inputs."""
    try:
        man = read_json(os.path.join(path, STORE_MANIFEST))
    except (OSError, ValueError):
        return None
    if (
        isinstance(man, dict)
        and man.get("code") == code_digest()
        and man.get("inputs") == inputs
    ):
        return man
    return None


def derived_store(name: str, inputs, build) -> tuple[str, dict]:
    """Locate, and build if needed, the derived store ``name`` for
    ``inputs`` (a JSON value naming everything the store depends on,
    e.g. table fingerprints and build parameters). Returns
    ``(path, manifest)``.

    The store at ``<root>/<name>-<sha(inputs)[:12]>`` is served as is
    when its manifest matches (:func:`_served`). Otherwise
    ``build(tmp)`` fills a fresh scratch dir and returns extra manifest
    fields (or None); the manifest is written atomically inside it and
    the dir is renamed into place, so a store is never visible half
    built. Stores must not record their own absolute path. If another
    process commits a valid store first, that one is used and ours is
    dropped; a stale or torn store in the way is retired first."""
    blob = json.dumps(inputs, sort_keys=True)
    inputs = json.loads(blob)  # the form the manifest round-trips to
    root = _store_root()
    key = hashlib.sha256(blob.encode()).hexdigest()[:12]
    path = os.path.join(root, f"{name}-{key}")
    man = _served(path, inputs)
    if man is not None:
        return path, man
    tmp = _new_scratch(root, name)
    try:
        man = {**(build(tmp) or {}), "code": code_digest(), "inputs": inputs}
        write_json_atomic(os.path.join(tmp, STORE_MANIFEST), man)
        for _ in range(3):
            try:
                os.rename(tmp, path)
                return path, man
            except OSError:  # the path is taken
                theirs = _served(path, inputs)
                if theirs is not None:
                    return path, theirs
            aside = _new_scratch(root, name)
            with contextlib.suppress(FileNotFoundError):
                os.rename(path, os.path.join(aside, "stale"))
            shutil.rmtree(aside, ignore_errors=True)
        os.rename(tmp, path)  # raises whatever keeps blocking the commit
        return path, man
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _lock_owner(path: str) -> int:
    """Owner pid recorded in a lock file; -1 if unreadable (a torn or
    hand-damaged lock — treated as dead, since write is atomic)."""
    try:
        return int(read_json(path).get("pid", -1))
    except (OSError, ValueError, AttributeError, json.JSONDecodeError):
        return -1


def _live_lock(root: str) -> bool:
    """True if ``root`` or its parent carries a maintenance lock whose
    owner is ALIVE — our own pid included. Checked by the recovery
    hooks: while a maintainer is alive, any manifest/scratch under the
    lock is its WORKING state, not a crash — a reader must not delete
    the compactor's scratch or race its promote (the r12 ADVICE
    reader-vs-compactor race), and the maintainer's own mid-fold reads
    (e.g. the stats rewrite reading doclen while its scratch is
    staged) must not clobber what it just wrote. Compactors therefore
    heal BEFORE taking the lock."""
    for d in (root, os.path.dirname(os.path.abspath(root))):
        path = os.path.join(d, LOCK_FILE)
        if os.path.isfile(path) and _pid_alive(_lock_owner(path)):
            return True
    return False


@contextlib.contextmanager
def maintenance_lock(root: str):
    """Single-writer guard for a store's maintenance (compaction).
    Creates ``<root>/_maintenance.lock`` recording our pid via an
    atomic link(2) publish; a second maintainer raises RuntimeError
    while the first is alive. A lock whose owner is provably dead
    (pid gone) is stolen — the crash-recovery path. Released on exit.

    This is the module contract's SINGLE-WRITER enforcement point:
    every ``compact_*`` entry wraps its whole fold in this context,
    so a reader can only ever heal state whose owner is dead."""
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, LOCK_FILE)
    payload = json.dumps({"pid": os.getpid()}).encode()
    for _ in range(2):  # one retry after stealing a dead lock
        if _lock_acquire(path, payload):  # atomic create-with-content
            break
        pid = _lock_owner(path)
        if pid != os.getpid() and _pid_alive(pid):
            raise RuntimeError(
                f"maintenance on {root} already running "
                f"(live pid {pid}); single-writer contract"
            )
        _remove(path)  # dead owner — steal
    else:  # pragma: no cover - pathological create/steal race
        raise RuntimeError(f"could not acquire maintenance lock on {root}")
    try:
        yield
    finally:
        _remove(path)


def _finish(root: str, folded: list[str]) -> None:
    """Steps 3-5: delete folded partials, promote the scratch fold to
    the base partial, clear the manifest. Idempotent — every delete
    tolerates 'already gone', so replaying after a crash is safe."""
    tmp = scratch_dir(root)
    for d in folded:
        shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    if os.path.isdir(tmp):
        _replace_dir(tmp, os.path.join(root, BASE_DIR))
    _remove(os.path.join(root, MANIFEST))


def promote_compacted(root: str, folded: list[str]) -> None:
    """Crash-safely swap the fold written at :func:`scratch_dir` in as
    the new ``batch_id=-1``, retiring the ``folded`` batch dirs. The
    manifest write is the commit point (see module docstring)."""
    if not os.path.isdir(scratch_dir(root)):  # pragma: no cover - misuse
        raise FileNotFoundError(
            f"promote_compacted: no {TMP_DIR} under {root}; write the "
            "compacted base there first"
        )
    write_json_atomic(os.path.join(root, MANIFEST), {"folded": folded})
    _finish(root, folded)


def recover_pending(root: str) -> bool:
    """Finish (or discard) an interrupted compaction under ``root``.
    Returns True if anything was repaired. Called by every
    ``compact_*`` entry point before listing batches; also safe (and
    cheap — a few ``os.path`` probes) from read paths: while a LIVE
    maintainer holds the lock this is a no-op (the manifest/scratch
    are the maintainer's working state, not a crash), and a parent
    store-level transaction is healed first so a multi-substore fold
    never recovers one substore out of step with its siblings."""
    if not os.path.isdir(root):
        return False
    # a store-level txn (parent) supersedes any per-substore state
    recover_store(os.path.dirname(os.path.abspath(root)))
    manifest = os.path.join(root, MANIFEST)
    tmp = scratch_dir(root)
    if not os.path.isfile(manifest) and not os.path.isdir(tmp):
        return False
    if _live_lock(root):
        # a live maintainer owns this state — hands off (r12 ADVICE:
        # a reader deleting the compactor's scratch fails its promote)
        return False
    if os.path.isfile(manifest):
        # Past the commit point: the scratch fold (if still present)
        # is authoritative for the listed batches — replay steps 3-5.
        folded = read_json(manifest).get("folded", [])
        _finish(root, folded)
        return True
    # Crashed before the commit point: the store is intact and the
    # scratch fold may be torn — drop it; the next compaction
    # simply redoes the fold.
    shutil.rmtree(tmp, ignore_errors=True)
    return True


def _apply_txn(store_root: str, plan: dict) -> None:
    """Replay a store-level transaction plan: finish every substore
    fold, then clear the listed auxiliary batch dirs (tombstones).
    Every step is idempotent, so replaying after any crash is safe."""
    for fold in plan.get("folds", []):
        _finish(os.path.join(store_root, fold["sub"]), fold["folded"])
    for aux in plan.get("clear", []):
        for d in aux.get("batches", []):
            shutil.rmtree(os.path.join(store_root, aux["sub"], d), ignore_errors=True)
    _remove(os.path.join(store_root, TXN_MANIFEST))


def promote_txn(
    store_root: str,
    folds: list[tuple[str, list[str]]],
    clear: list[tuple[str, list[str]]] = (),
) -> None:
    """Commit a MULTI-SUBSTORE compaction atomically (r13, closes r12
    ADVICE #3). ``folds`` is ``[(substore, folded_batches), ...]`` —
    each substore's new base must already sit in its scratch dir;
    ``clear`` is ``[(aux_substore, batch_dirs_to_delete), ...]`` (the
    tombstone clear). ONE store-level manifest is the commit point for
    the whole plan: before it, nothing moved (scratches are dropped);
    after it, :func:`recover_store` replays every fold AND the clear,
    so no crash can leave e.g. a tombstone-applied doclen next to
    pre-delete stats partials."""
    for sub, _ in folds:
        if not os.path.isdir(  # pragma: no cover - misuse
            scratch_dir(os.path.join(store_root, sub))
        ):
            raise FileNotFoundError(
                f"promote_txn: no {TMP_DIR} under {store_root}/{sub}; "
                "stage every substore fold before committing"
            )
    plan = {
        "folds": [{"sub": s, "folded": list(f)} for s, f in folds],
        "clear": [{"sub": s, "batches": list(b)} for s, b in clear],
    }
    write_json_atomic(os.path.join(store_root, TXN_MANIFEST), plan)
    _apply_txn(store_root, plan)


def recover_store(store_root: str) -> bool:
    """Replay an interrupted store-level transaction (the
    :func:`promote_txn` twin of :func:`recover_pending`). No-op and
    False if no transaction is pending or a LIVE maintainer owns it."""
    manifest = os.path.join(store_root, TXN_MANIFEST)
    if not os.path.isfile(manifest):
        return False
    if _live_lock(store_root):
        return False
    _apply_txn(store_root, read_json(manifest))
    return True
