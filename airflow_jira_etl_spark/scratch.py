"""Scratch paths: per-session state and shared fixture-derived caches.

Sink and streaming queries materialize real on-disk state (upsert
tables, checkpoint logs, written-out tables) under the scratch root
(``SCRATCH`` below — a repo-keyed tmpfs dir by default, see
``_default_scratch``; ``SPARK_GRAFT_SCRATCH`` overrides). A
FIXED path there is a concurrency bug: two sessions (a test run
alongside a bench run) would destroy()/overwrite each other's live
state mid-query.

Two kinds of path live here:

- ``session_scratch``: per-session state keyed by ``<tag>_<pid>``, so
  sessions are mutually invisible; dirs whose owning process is gone
  are reaped on the next use of the same kind — bounded growth without
  ever touching a LIVE session's state.
- ``source_cache``: artifacts derived from a fixture (event pages, the
  IVF index, the bucketed-join tables, the DPP table), keyed by the
  fixture's content and shared by every session.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import stat
from typing import Callable

# world-writable tmpfs the default scratch root lives on
_SHM = "/dev/shm"

_REPO_SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def _default_scratch() -> str:
    """Scratch root selection.

    Everything under scratch is EPHEMERAL: per-session sink state that
    each query destroys and rebuilds, availableNow checkpoints that are
    rmtree'd on every exit path, and content-keyed caches that rebuild
    from the parquet sources on any miss. None of it needs to survive a
    reboot, but the parquet-commit fsyncs (manifest + pointer + dir
    fsyncs in sinks/parquet_upsert._commit) and the streaming state
    store's many small checkpoint files pay real block-device latency
    on the repo filesystem — measured at sf0.1: a warm 4-page upsert
    round ran 2.89 s on disk vs 2.32 s on tmpfs, and the availableNow
    harness floor dropped 1.78 s -> 1.57 s. So the default root is a
    RAM-backed tmpfs when one is available, keyed by a hash of the
    repo path so two checkouts never share state. On a production
    cluster the analog is executor-local SSD/ramdisk for ephemera and
    durable storage for real sinks/checkpoints — point
    ``SPARK_GRAFT_SCRATCH`` at the right place (it also serves runs
    whose scratch volume would not fit in RAM, e.g. very large
    replicated-fixture sweeps)."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return os.path.abspath(env)
    if os.path.isdir(_SHM) and os.access(_SHM, os.W_OK):
        # /dev/shm is world-writable shared tmp, so a predictable name
        # is the classic pre-create/symlink-squat surface:
        # key the dir by UID as well, create it 0o700 up front, and
        # refuse anything that is a symlink or owned by someone else —
        # falling back to the repo-local root rather than reading or
        # rmtree'ing through another user's plant. A window remains
        # between makedirs and lstat: an entry planted in it is judged
        # by the same lstat checks, and once our own directory exists
        # the sticky bit on /dev/shm stops another user from swapping it.
        tag = hashlib.sha256(_REPO_SCRATCH.encode()).hexdigest()[:8]
        _remove_own(os.path.join(_SHM, f"spark_graft_scratch_{tag}"))
        root = os.path.join(
            _SHM, f"spark_graft_scratch_{os.getuid()}_{tag}"
        )
        try:
            os.makedirs(root, mode=0o700, exist_ok=True)
            st = os.lstat(root)
        except OSError:
            return _REPO_SCRATCH
        if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid():
            return _REPO_SCRATCH
        return root
    return _REPO_SCRATCH


def _remove_own(path: str) -> None:
    """Delete ``path`` if it is a real directory owned by this uid, or
    a regular file owned by it (a lock file). Used for names nothing
    reads any more but which hold tmpfs RAM until removed: this repo's
    old scratch root name (without the uid) and the old cache layouts
    (``_remove_old_layouts``). A symlink or another user's entry under
    such a name is left alone."""
    try:
        st = os.lstat(path)
    except OSError:
        return
    if st.st_uid != os.getuid():
        return
    if stat.S_ISDIR(st.st_mode):
        shutil.rmtree(path, ignore_errors=True)
    elif stat.S_ISREG(st.st_mode):
        try:
            os.remove(path)
        except FileNotFoundError:
            pass  # another process importing this module removed it


# Top-level names of cache layouts that source_cache replaced. No code
# writes or reads them now: the event pages per fixture, the bucketed-
# join warehouse, the DPP table and the streaming source dir.
_OLD_LAYOUT_NAMES = ("bucketed_wh", "bucketed_wh.lock", "events_dpp", "stream_src")
# old IVF index dirs: ivf_index/<source tag>_k8; a current slot name is
# a source tag, which ends in its 8-hex hash
_OLD_IVF_DIR = re.compile(r"_[0-9a-f]{8}_k8$")


def _remove_old_layouts(root: str) -> None:
    """Remove what the old cache layouts left under the scratch root."""
    try:
        names = os.listdir(root)
    except OSError:
        return
    for name in names:
        if name in _OLD_LAYOUT_NAMES or name.startswith("event_pages_"):
            _remove_own(os.path.join(root, name))
    ivf = os.path.join(root, "ivf_index")
    if os.path.isdir(ivf) and not os.path.islink(ivf):
        for name in os.listdir(ivf):
            if _OLD_IVF_DIR.search(name):
                _remove_own(os.path.join(ivf, name))


SCRATCH = _default_scratch()
_remove_old_layouts(SCRATCH)


def reap_dead_session_dirs(parent: str) -> None:
    """Remove ``*_<pid>`` entries under ``parent`` whose owning process
    no longer exists."""
    try:
        entries = os.listdir(parent)
    except FileNotFoundError:
        return
    for e in entries:
        pid = e.rsplit("_", 1)[-1]
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            os.kill(int(pid), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(parent, e), ignore_errors=True)
        except PermissionError:
            pass  # alive under another uid — leave it


# paths this PROCESS has already claimed: the first claim per path
# wipes any leftover from a previous owner, later claims keep the
# session's own live state
_CLAIMED: set[str] = set()


def session_scratch(kind: str, tag: str = "") -> str:
    """A per-session scratch path ``.scratch/<kind>/<tag>_<pid>``,
    reaping the kind's dead-session leftovers on the way.

    PID RECYCLING makes the pid suffix alone an unsound identity: the
    reaper must skip entries matching our own pid, so a fresh process
    whose pid matches a CRASHED session's leftover dir would silently
    inherit that stranger's half-written state. The first claim of a
    path per process therefore removes whatever is already there —
    making the 'fresh per session' guarantee real instead of resting
    on every caller destroying/overwriting first. (A dead dir whose
    pid was recycled to some OTHER live process survives reaping until
    that pid dies — bounded-growth erosion, not a correctness hazard,
    since no live session ever reads it.)

    ``tag`` is made glob-free (``catalog.glob_free``): callers pass a
    fixture's basename, and the path is later handed to Spark, which
    globs it."""
    from airflow_jira_etl_spark.catalog import glob_free

    parent = os.path.join(SCRATCH, kind)
    os.makedirs(parent, exist_ok=True)
    reap_dead_session_dirs(parent)
    name = f"{glob_free(tag)}_{os.getpid()}" if tag else str(os.getpid())
    path = os.path.join(parent, name)
    if path not in _CLAIMED:
        shutil.rmtree(path, ignore_errors=True)
        _CLAIMED.add(path)
    return path


_CACHE_META = "_CACHE_META.json"


def source_cache(
    kind: str, sf_dir: str, ident, build: Callable[[str], dict]
) -> tuple[str, dict]:
    """The ``kind`` artifact derived from the fixture at ``sf_dir``:
    ``SCRATCH/<kind>/<catalog.source_tag(sf_dir)>/v_<hash(ident)>``,
    returned with the JSON ``info`` its build recorded.

    ``ident`` (JSON-able) holds the ``catalog.source_stamp`` of every
    table the artifact reads plus the caller's parameters; it is the
    artifact's one invalidation rule. A hit — the meta file records the
    same ident — costs a file read: no lock, no Spark job. A miss takes
    an exclusive flock, re-checks, runs ``build(dir) -> info`` into a
    fresh version dir (``build`` creates ``dir``), publishes the meta
    with ``os.replace`` and deletes every version except the new one
    and the one the previous meta named. Readers never lock, so a
    reader that resolved the previous version keeps reading valid files
    through one rebuild. The meta also records the fixture's absolute
    path, so a later miss under the same ``kind`` can drop the slots of
    fixtures that are gone (``_reap_orphan_slots``)."""
    from airflow_jira_etl_spark.catalog import source_tag

    parent = os.path.join(SCRATCH, kind)
    root = os.path.join(parent, source_tag(sf_dir))
    key = json.loads(json.dumps(ident))  # as the meta reads back
    meta = _read_meta(root)
    if meta is None or meta["ident"] != key:
        import fcntl

        os.makedirs(root, exist_ok=True)
        with open(root + ".lock", "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            meta = _read_meta(root)
            if meta is None or meta["ident"] != key:
                fixture = os.path.abspath(os.path.normpath(sf_dir))
                meta = _build_version(root, meta, key, build, fixture)
        _reap_orphan_slots(parent)
    return os.path.join(root, meta["version"]), meta["info"]


def _read_meta(slot: str) -> dict | None:
    try:
        with open(os.path.join(slot, _CACHE_META)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def _orphaned(slot: str) -> bool:
    """True when ``slot``'s meta records a fixture that no longer
    exists; a meta without the field never is."""
    meta = _read_meta(slot) if os.path.isdir(slot) else None
    return bool(meta) and "fixture" in meta and not os.path.exists(meta["fixture"])


def _reap_orphan_slots(parent: str) -> None:
    """Remove the slots under ``parent`` whose recorded fixture is gone: every temporary fixture (a test's tmp
    dir) leaves one. A slot whose lock is held (a build is running in
    it) is skipped. Its lock file goes with it: only a caller of that
    vanished fixture could wait on it, and its build cannot succeed."""
    import fcntl

    for name in os.listdir(parent):
        slot = os.path.join(parent, name)
        if not _orphaned(slot):
            continue
        with open(slot + ".lock", "w") as lk:
            try:
                fcntl.flock(lk, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                continue
            if _orphaned(slot):  # re-checked under the lock
                shutil.rmtree(slot, ignore_errors=True)
                os.remove(slot + ".lock")


def _build_version(root: str, prev: dict | None, key, build, fixture: str) -> dict:
    """The miss path of source_cache; the caller holds the flock."""
    version = "v_" + hashlib.sha256(
        json.dumps(key, sort_keys=True).encode()
    ).hexdigest()[:12]
    out = os.path.join(root, version)
    # a leftover of a crashed build, or a version two rebuilds old
    shutil.rmtree(out, ignore_errors=True)
    try:
        info = build(out)
    except BaseException:
        shutil.rmtree(out, ignore_errors=True)
        raise
    text = json.dumps(
        {"ident": key, "version": version, "info": info, "fixture": fixture}
    )
    meta_path = os.path.join(root, _CACHE_META)
    with open(meta_path + ".tmp", "w") as f:
        f.write(text)
    os.replace(meta_path + ".tmp", meta_path)
    keep = {version, prev["version"] if prev else None}
    for d in os.listdir(root):
        if d.startswith("v_") and d not in keep:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    # the hit path returns the info as JSON reads it back: so does this
    return json.loads(text)
