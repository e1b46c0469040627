"""Durable materialized-view store — the engine's MV seam.

The reference materializes its expensive derived relations (label-
enriched facts, daily narrative rollups, MinHash-style signature
tables) as Postgres MVs/tables and reuses them across endpoints
(`sql/serp_feature_daily_mv.sql`, `narrative_runtime.py` rollup
writes). Those MVs are DURABLE: they outlive a connection, and every
query that reads one compiles to a scan of the stored table.

Each relation is written as parquet under a content-fingerprinted
path, and `cached_relation` always returns a plain scan of the
written files:

- plan shape is deterministic — every consumer sees `Scan parquet`,
  never an inlined build tree or an InMemoryRelation;
- the build cost is paid once per (relation, dataset content) across
  ALL sessions and processes, exactly like a real MV refresh;
- nothing is pinned in executor memory, so repeated runs across
  datasets cannot accumulate cached blocks (ADVICE r2).

At 100 TB this is precisely the refresh-graph design (`plans/refresh.py`
is the scheduled flavor; this store is the package's only MV path): the
MV store is a warehouse path, scans of it get partition pruning and
column pruning for free, and an executor loss or new session never
recompiles or repays the build.

The store keys on a content fingerprint of the source dataset: the
`tables.table_probe` fingerprint of every table in sf_dir, a file or a
directory of parts (names, sizes, first 4 KiB and parquet footer of
each part). Each probe is memoized per table and REVALIDATED against
its stat signature (relpath/size/mtime per part) on every call, so a
table regenerated or upserted mid-session is noticed immediately —
regenerated-but-identical bytes reuse the store, any content change
rebuilds. Publishes are atomic (write to a per-pid temp dir, os.rename
into place); a bounded number of dataset fingerprints is kept per
relation (LRU by mtime, refreshed on use) so test-tmp datasets cannot
grow the store without bound, and the process memos drop what the
store drops.

Concurrency: inside one process, the miss -> build -> publish path of
a (key, fingerprint) runs under that pair's lock, so threads that miss
together (refresh_all's concurrent steps, a query racing a refresh)
build once and the rest read the published files. Across processes the
atomic rename decides the winner.

A store that cannot be written (read-only checkout) is swapped on the
first miss for a private directory under `tempfile.gettempdir()`,
with a warning; the build lands there and is still read back as a scan.

Every store key is declared once, with `mv_step`, on the accessor that
builds it; `plans/refresh.py` derives the refresh DAG from those
declarations.
"""

from __future__ import annotations

import atexit
import errno
import hashlib
import os
import shutil
import tempfile
import threading
import time
import warnings
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..tables import table_probe

# The store defaults to `.mvstore` at this checkout's root, so another
# checkout (with other builders) never serves MVs built by this one.
MV_ROOT = os.environ.get(
    "SPARK_GRAFT_MV_DIR",
    os.path.abspath(os.path.join(__file__, "..", "..", "..", ".mvstore")),
)

# Datasets kept per relation key (sf0.001 + sf0.01 + sf0.1 + one spare).
KEEP_DATASETS = 4

# Orphaned atomic-write temp dirs older than this are reclaimed.
TMP_REAP_SECONDS = 6 * 3600

# (key, fingerprint) -> scan DataFrame for this session. Nothing is
# persisted in memory; this only avoids re-creating the reader on
# every call. `_prune` drops the entries of the datasets it deletes.
_CACHE: dict[tuple[str, str], DataFrame] = {}

# (key, fingerprint) -> the lock its builders take. `_prune` drops the
# entry of a dataset it deletes, but never a held lock: that would let
# the next thread build beside its holder.
_BUILD_LOCKS: dict[tuple[str, str], threading.Lock] = {}

# Guards _BUILD_LOCKS and the read-only-store redirect of MV_ROOT.
_LOCK = threading.Lock()

Accessor = Callable[[SparkSession, str], DataFrame]

# refresh step -> (accessor, store keys it publishes, steps it reads).
# Filled by `mv_step` as the plan modules import; `plans/refresh.py`
# orders it into MV_STORE_DAG.
MV_STEPS: dict[str, tuple[Accessor, tuple[str, ...], tuple[str, ...]]] = {}


def mv_step(
    step: str, keys: tuple[str, ...], deps: tuple[str, ...] = ()
) -> Callable[[Accessor], Accessor]:
    """Declare `fn(spark, sf_dir)` as the refresh step `step`: calling it
    publishes the store `keys` (a trailing `*` matches keys that a
    scale-gated build may or may not write) once the `deps` steps have
    published theirs. Returns `fn` unchanged."""

    def deco(fn: Accessor) -> Accessor:
        if step in MV_STEPS:
            raise ValueError(f"duplicate MV step {step!r}")
        MV_STEPS[step] = (fn, tuple(keys), tuple(deps))
        return fn

    return deco


def _fingerprint(sf_dir: str) -> str:
    """Content fingerprint of a dataset dir: its path and the
    `tables.table_probe` fingerprint of every `*.parquet` entry, a
    file or a directory of parts."""
    h = hashlib.md5(os.path.abspath(sf_dir).encode())
    try:
        names = sorted(n for n in os.listdir(sf_dir) if n.endswith(".parquet"))
    except OSError:
        names = []
    for n in names:
        h.update(table_probe(os.path.join(sf_dir, n)).fingerprint.encode())
    return h.hexdigest()[:16]


def _prune(key_dir: str, keep: str) -> None:
    """Drop oldest dataset materializations beyond KEEP_DATASETS (LRU
    by dir mtime, which cached_relation refreshes on every use), with
    their process memo entries, and reap orphaned temp dirs from
    crashed writers."""
    now = time.time()
    try:
        listing = os.listdir(key_dir)
    except OSError:
        return
    entries = []
    for d in listing:
        p = os.path.join(key_dir, d)
        try:
            mtime = os.path.getmtime(p)
        except OSError:
            continue
        if ".tmp-" in d or ".wreck-" in d:
            # reap crash leftovers only: old AND the writing pid is gone
            # (dir mtime may not advance during one long part-file write,
            # so age alone must never condemn a live writer's temp).
            # .wreck- dirs are junk a recovering publisher moved aside
            # and normally reaps itself; this catches its crash window.
            if now - mtime > TMP_REAP_SECONDS and not _pid_alive(d):
                shutil.rmtree(p, ignore_errors=True)
            continue
        if d != keep:
            entries.append((mtime, d))
    entries.sort(reverse=True)
    key = os.path.basename(key_dir)
    for _, d in entries[KEEP_DATASETS - 1 :]:
        shutil.rmtree(os.path.join(key_dir, d), ignore_errors=True)
        _CACHE.pop((key, d), None)
        # A lock fetched but not yet taken may go: at worst its holder
        # builds beside a newcomer, and the atomic publish keeps the
        # key whole, as between two processes.
        with _LOCK:
            lock = _BUILD_LOCKS.get((key, d))
            if lock is not None and lock.acquire(blocking=False):
                del _BUILD_LOCKS[(key, d)]
                lock.release()


def _pid_alive(tmp_dir_name: str) -> bool:
    """True if the pid embedded in a '<fp>.tmp-<pid>' / '<fp>.wreck-<pid>'
    name still runs (conservatively True when the name doesn't parse)."""
    try:
        pid = int(tmp_dir_name.rsplit("-", 1)[1])
        os.kill(pid, 0)
        return True
    except (IndexError, ValueError):
        return True
    except ProcessLookupError:
        return False
    except OSError:
        return True  # EPERM etc.: someone owns it — leave it alone


def _store_writable() -> bool:
    """Probe that MV_ROOT accepts writes. Run on each miss (under
    _LOCK, so the pid-named probe is private to this call), so a real
    write failure later (disk full, bad build plan) propagates instead
    of being read as a read-only checkout."""
    try:
        os.makedirs(MV_ROOT, exist_ok=True)
        probe = os.path.join(MV_ROOT, f".probe-{os.getpid()}")
        with open(probe, "w") as f:
            f.write("w")
        try:
            os.remove(probe)
        except FileNotFoundError:
            pass
        return True
    except OSError:
        return False


def _writable_root() -> str:
    """MV_ROOT, swapped for a private directory under
    tempfile.gettempdir() when the store refuses writes (read-only
    checkout). The swap lasts for the process and the directory is
    removed at exit."""
    global MV_ROOT
    with _LOCK:
        if not _store_writable():
            private = tempfile.mkdtemp(prefix="spark-graft-mv-")
            atexit.register(shutil.rmtree, private, True)
            warnings.warn(
                f"MV store {MV_ROOT!r} is not writable; this process "
                f"builds its MVs into {private!r}",
                stacklevel=3,
            )
            MV_ROOT = private
        return MV_ROOT


def _touch(path: str) -> None:
    """Refresh LRU recency on EVERY use: another process's _prune must
    see in-service datasets as recent, or it could evict them
    mid-query (mtime otherwise records build time only)."""
    try:
        os.utime(path)
    except OSError:
        pass


def _publish(path: str, df: DataFrame) -> None:
    """Write df to `path` via a per-pid temp dir and an atomic rename:
    a concurrent builder of the same (key, fingerprint) in another
    process can never leave the published path half-written — whoever
    renames first wins, the loser reads the winner's files. Write
    errors here are REAL (the store is writable) and propagate."""
    tmp = f"{path}.tmp-{os.getpid()}"
    try:
        # maxRecordsPerFile: a 1-partition build (common when the
        # source scan is serial) would otherwise emit ONE part
        # file, making every consumer of the MV scan single-
        # threaded — the same unsplittable-layout disease the
        # tables.py re-layout seam fixes for sources. Chunking the
        # write keeps the build plan and row order (so any build-
        # side time/key clustering survives for min/max pruning)
        # while giving downstream scans file-granular splits.
        df.write.option("maxRecordsPerFile", 50_000).mode(
            "overwrite"
        ).parquet(tmp)
    except BaseException:
        # the error is real and propagates, but never leave the
        # half-written temp behind (worst offender in a disk-full
        # incident is the leftover junk itself)
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except OSError as exc:
        # Either a concurrent builder won the race (fine: read its
        # complete output) or the rename failed for another reason
        # and `path` is junk. Distinguish via the _SUCCESS marker —
        # a completed Spark parquet write always has one. Only
        # treat the path as a wreck when the errno actually means
        # "destination occupied" (EEXIST/ENOTEMPTY); other errnos
        # (EACCES, EXDEV, ...) are real publish failures and the
        # rival's output — if any — must not be rmtree'd out from
        # under a reader.
        if exc.errno not in (errno.EEXIST, errno.ENOTEMPTY):
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            # Move the suspected wreck ASIDE, never rmtree it in
            # place (ADVICE r6): between the _SUCCESS check and an
            # in-place deletion, a rival can clean the same junk
            # and complete its own publish — the deletion would
            # then destroy the rival's finished MV under a reader.
            # The pid-suffixed rename freezes whatever is there
            # under a name only we own; re-checking _SUCCESS on
            # the frozen copy is race-free.
            wreck = f"{path}.wreck-{os.getpid()}"
            try:
                os.rename(path, wreck)
            except OSError:
                pass  # a rival already moved or reaped it
            else:
                if os.path.exists(os.path.join(wreck, "_SUCCESS")):
                    # We grabbed a COMPLETE publish that a rival
                    # swapped in after our check. Put it back if
                    # the name is still free; if a third publish
                    # took it, the content-addressed copies are
                    # equivalent — drop ours.
                    try:
                        os.rename(wreck, path)
                    except OSError:
                        shutil.rmtree(wreck, ignore_errors=True)
                else:
                    shutil.rmtree(wreck, ignore_errors=True)
            try:
                os.rename(tmp, path)
            except OSError:
                # A rival can still win the re-publish; if ITS
                # publish completed, read it — only raise when
                # nobody produced a complete MV.
                if not os.path.exists(os.path.join(path, "_SUCCESS")):
                    shutil.rmtree(tmp, ignore_errors=True)
                    raise
                shutil.rmtree(tmp, ignore_errors=True)
        else:
            shutil.rmtree(tmp, ignore_errors=True)  # lost the race


def cached_relation(key: str, sf_dir: str, build: Callable[[], DataFrame]) -> DataFrame:
    """Return a scan of the materialized relation for (key, dataset
    content of sf_dir), building and writing it on first use anywhere.

    A miss holds the (key, fingerprint) lock through build and publish
    and re-checks `_SUCCESS` once it holds it, so threads of one
    process that miss together build once; the others read what the
    first published. A memo hit is served only while its `_SUCCESS`
    marker exists: one that `_prune` (or another process) deleted is
    rebuilt, never returned as a scan of deleted files. A store that
    cannot be written is redirected to a private temp directory (with a
    warning) before the build, so the result is a parquet scan in every
    case."""
    fp = _fingerprint(sf_dir)
    hit = _CACHE.get((key, fp))
    if hit is not None:
        path = os.path.join(MV_ROOT, key, fp)
        _touch(path)
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            return hit
        # pruned since it was read: forget the scan and Spark's listing
        # of its files, and rebuild
        _CACHE.pop((key, fp), None)
        hit.sparkSession.catalog.refreshByPath(path)
    with _LOCK:
        lock = _BUILD_LOCKS.setdefault((key, fp), threading.Lock())
    with lock:
        # getActiveSession is thread-local; fall back to the default
        # session so a caller invoking from a different thread than the
        # one that built the session still resolves it (getOrCreate
        # returns the existing default, never a fresh unconfigured
        # session here).
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        path = os.path.join(MV_ROOT, key, fp)
        if os.path.exists(os.path.join(path, "_SUCCESS")):
            _touch(path)
        else:
            path = os.path.join(_writable_root(), key, fp)
            _publish(path, build())
        _prune(os.path.dirname(path), keep=fp)
        out = spark.read.parquet(path)
        _CACHE[(key, fp)] = out
    return out


def clear() -> None:
    """Forget session-level reader handles (test isolation). Durable
    files stay — they are content-addressed, so reuse is always safe."""
    _CACHE.clear()


def drop_store() -> None:
    """Delete the on-disk store entirely (tests / forced rebuild)."""
    clear()
    shutil.rmtree(MV_ROOT, ignore_errors=True)
    # Spark keeps a process-wide file-status cache for path reads; a
    # rebuild publishes NEW part-file names under the SAME store paths,
    # so without this refresh a post-rebuild scan in the same session
    # lists the deleted files and dies with FILE_NOT_EXIST.
    spark = SparkSession.getActiveSession()
    if spark is not None:
        try:
            spark.catalog.refreshByPath(MV_ROOT)
        except Exception:
            pass
