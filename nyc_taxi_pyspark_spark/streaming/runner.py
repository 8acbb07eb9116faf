"""Structured Streaming execution harness.

``run_stream_once`` drives a parquet-directory source through a
transformation to a memory sink synchronously — the local-mode stand-in for
a Kafka→sink pipeline, and what the streaming tests use to prove the batch
twins really run as streams (same plan, watermark attached).
"""

from __future__ import annotations

import os
import threading
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def run_stream_once(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
) -> DataFrame:
    """Read ``source_dir`` as a file stream, apply ``transform``, drain all
    available input into an in-memory table, and return it as a DataFrame.
    """
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    stream = spark.readStream.schema(schema).parquet(source_dir)
    q = (
        transform(stream)
        .writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


class _StreamEntry:
    """One tracked persistent stream: the per-key drain lock plus the
    running query and its memory-sink table name (both None while a
    starter thread is still bringing the stream up)."""

    __slots__ = ("lock", "q", "name")

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.q = None
        self.name: str | None = None


_RUNNING: dict[tuple, _StreamEntry] = {}
# Serving-layer requests hit this registry from concurrent threads (the
# scenario catalog._cache.SessionState locks against): without the lock two
# threads can both miss, both start a stream, and the loser's query is overwritten
# in the dict — active, untracked, never stopped. The GLOBAL lock covers
# only registry lookup/insert/evict (O(registry) bookkeeping, never a
# drain): holding it across processAllAvailable() serialized callers on
# DIFFERENT keys and let one hung drain block every other stream (ADVICE
# r12). Startup and drain run under the entry's per-key lock instead —
# two concurrent drains of one query still have no useful interleaving,
# but independent keys proceed in parallel. Lock order: the per-key lock
# may be taken only OUTSIDE the global lock (holders of a per-key lock
# may then take the global lock for cleanup, never the reverse).
_RUNNING_LOCK = threading.Lock()


def _pop_dead_sessions() -> list[_StreamEntry]:
    """Pop registry entries whose owning session is gone; the CALLER stops
    them (outside the global lock, per-key lock taken non-blocking).

    Keying by live session identity means entries for discarded/stopped
    sessions are never looked up again — without a sweep each abandoned
    session would leave a forever-running query and a memory-sink table
    pinned by the strong session reference. Runs under _RUNNING_LOCK on
    every registry access; cost is O(registry) attribute probes.

    Must be called under _RUNNING_LOCK, and must NOT stop queries itself
    (ADVICE r13): q.stop() is a JVM call that can block for seconds, and
    holding the global lock across it stalls every registry access — the
    exact pathology the r13 restructure removed from drains. Stopping
    outside under ent.lock also closes the race with a concurrent drain
    holding that lock.

    Only DEFINITIVE dead signals evict — the context object torn down
    (no sparkContext/_jsc) or the JVM SparkContext reporting isStopped().
    A transient probe failure (a py4j hiccup against a session whose JVM
    is demonstrably up, since the CALLER's session shares it) must not
    stop a healthy query: the concurrent owner would pay a full stream
    restart and lose the accumulated memory-sink state (ADVICE r12).
    Popping a definitively-dead entry cannot orphan a starter mid-flight:
    any start/drain against that stopped session raises, and the starter
    cleans up after itself."""
    popped: list[_StreamEntry] = []
    for k in list(_RUNNING):
        sess = k[0]
        try:
            jsc = sess.sparkContext._jsc
            dead = jsc is None or jsc.sc().isStopped()
        except AttributeError:
            dead = True  # context torn down entirely: definitive
        except Exception:
            continue  # transient probe failure: leave the entry alone
        if dead:
            popped.append(_RUNNING.pop(k))
    return popped


def run_stream_cached(
    spark: SparkSession,
    source_dir: str,
    schema: T.StructType,
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
    key: str | None = None,
) -> DataFrame:
    """:func:`run_stream_once` with a persistent stream: the first call
    pays full stream startup (source listing, state-store init, the
    micro-batch drain); later calls against the SAME (session, source,
    transform, mode) just ``processAllAvailable()`` on the already-running
    query — a no-op when no new files arrived — and read the memory sink.

    This is the honest long-lived-stream shape: a production monitor
    doesn't restart per evaluation, it stays subscribed and its sink
    accumulates update-mode rows; consumers reduce to final state exactly
    as the batch twins here already do (max-struct per key). A dead query
    (stopped session, sink dropped) is detected, STOPPED if still active,
    and restarted.

    The SESSION is part of the registry key (held by identity, same
    rationale as the catalog._cache.SessionState key): the memory sink's
    table is a temp view of the session that started the query, so a
    sibling session can never read it — before the session joined the
    key, a sibling's lookup failed the ``spark.table`` read, popped the
    entry, and restarted, ORPHANING the first session's still-running
    query (active, untracked, processing forever). Now each session keeps
    its own tracked stream.
    """
    k = (
        spark,
        spark.sparkContext.applicationId,
        os.path.realpath(source_dir),
        key or getattr(transform, "__name__", repr(transform)),
        output_mode,
    )
    # Global lock: registry bookkeeping only (evict + lookup/insert the
    # entry). The drain and any stream startup happen under the entry's
    # per-key lock, OUTSIDE the global lock, so a slow or hung drain on
    # one key never blocks callers on other keys/sessions.
    with _RUNNING_LOCK:
        dead = _pop_dead_sessions()
        ent = _RUNNING.get(k)
        if ent is None:
            ent = _StreamEntry()
            _RUNNING[k] = ent
    # Stop evicted dead-session queries OUTSIDE the global lock (a slow
    # JVM stop() must not stall every registry access — ADVICE r13). The
    # per-key lock is taken NON-blocking: a hung drain holding a dead
    # entry's lock must not block callers on other keys (the same
    # pathology, one lock over). When the lock is contended the stop
    # proceeds without it — benign: the session is DEFINITIVELY dead, so
    # its queries are already terminated and stop() is best-effort
    # bookkeeping; a racing starter on the dead session fails its start
    # and cleans up after itself.
    for dent in dead:
        locked = dent.lock.acquire(blocking=False)
        try:
            dq = dent.q
            if dq is not None:
                try:
                    dq.stop()
                except Exception:
                    pass
                # Clear the fields ONLY while holding the per-key lock:
                # writing them during a contended acquire would mutate
                # state the lock is documented to guard mid-drain (a
                # straddling drain would see ent.q vanish inside its
                # critical section). The entry is already popped from the
                # registry, so leaving stale fields on a contended entry
                # is harmless — stop() above is the part that matters.
                if locked:
                    dent.q, dent.name = None, None
        finally:
            if locked:
                dent.lock.release()
    with ent.lock:
        if ent.q is not None:
            q, name = ent.q, ent.name
            try:
                if q.isActive:
                    q.processAllAvailable()
                    return spark.table(name)
            except Exception:
                pass
            ent.q, ent.name = None, None
            try:
                q.stop()  # never leave a half-dead query running untracked
            except Exception:
                pass
        name = f"stream_keep_{uuid.uuid4().hex[:8]}"
        stream = spark.readStream.schema(schema).parquet(source_dir)
        q = (
            transform(stream)
            .writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        except Exception:
            q.stop()
            # drop the placeholder so the failed key doesn't pin an
            # empty entry forever (only if it is still ours — a
            # stop_all_streams may already have popped it)
            with _RUNNING_LOCK:
                if _RUNNING.get(k) is ent:
                    _RUNNING.pop(k, None)
            raise
        ent.q, ent.name = q, name
        # SUCCESS path must re-validate registry membership too (ADVICE
        # r13 — the failure path above already did): between our registry
        # insert and acquiring ent.lock, stop_all_streams may have popped
        # this entry (it saw q=None, nothing to stop), or a sibling
        # starter's failure path popped it. Assigning q to a popped entry
        # leaves the query active and UNTRACKED forever — the exact leak
        # the registry exists to prevent.
        with _RUNNING_LOCK:
            cur = _RUNNING.get(k)
            if cur is ent:
                return spark.table(name)
            if cur is None:
                # key unclaimed: re-track (linearize this start AFTER the
                # concurrent stop — the stream is running, so it must be
                # in the registry for the next stop/drain to find)
                _RUNNING[k] = ent
                return spark.table(name)
        # another starter claimed the key with a FRESH entry while ours
        # was popped: ours would be untracked forever — stop it. The
        # memory sink is fully drained, so it still serves THIS call.
        ent.q, ent.name = None, None
        try:
            q.stop()
        except Exception:
            pass
        return spark.table(name)


def stop_all_streams(spark: SparkSession | None = None) -> None:
    """Stop every tracked persistent stream — all of them, or only the
    ones owned by ``spark`` — plus any still-active query on that
    session.

    Call this before ``spark.stop()`` / process exit: a memory-sink
    stream left running while the JVM tears down races its own scheduler
    threads and prints a ScheduledThreadPoolExecutor stack trace to
    stderr during shutdown (harmless but noisy — it corrupted the tail
    of a bench artifact once). Idempotent; never raises."""
    # Pop under the global lock, stop under each entry's per-key lock and
    # OUTSIDE the global one (lock order: per-key never inside global).
    # Waiting on the per-key lock means a starter mid-flight finishes
    # assigning its query before we stop it — no orphaned active stream.
    popped: list[_StreamEntry] = []
    with _RUNNING_LOCK:
        for k in list(_RUNNING):
            if spark is not None and k[0] is not spark:
                continue
            popped.append(_RUNNING.pop(k))
    for ent in popped:
        with ent.lock:
            if ent.q is not None:
                try:
                    ent.q.stop()
                except Exception:
                    pass
                ent.q, ent.name = None, None
    if spark is not None:
        try:
            for q in spark.streams.active:
                try:
                    q.stop()
                except Exception:
                    pass
        except Exception:
            pass


def parquet_stream_dir(src_file: str) -> str:
    """Expose a parquet table — a single FILE or a Spark-written DIRECTORY
    of part files — as a readStream-able directory via a deterministic
    per-source symlink dir (no data copy; reused across invocations
    instead of leaking a mkdtemp per run; stale links from a regenerated
    source are replaced).

    The directory case is the one that matters at scale: every
    Spark/ingest-written table is a directory of part-*.parquet, and
    Spark's file stream source does NOT recurse into a nested directory —
    symlinking the directory itself silently yields an EMPTY stream (the
    input-layout audit caught exactly that in stream_stateful_totals). A
    directory source therefore gets one symlink PER data file, and links
    whose target no longer belongs to the source (regeneration changed
    the part set) are pruned so the stream never reads a stale mix.
    """
    import hashlib
    import os
    import tempfile

    src = os.path.realpath(src_file)
    tag = hashlib.sha1(src.encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"stateful_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    if os.path.isdir(src):
        wanted = {
            n: os.path.join(src, n)
            for n in os.listdir(src)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        }
        if not wanted:
            raise RuntimeError(
                f"parquet_stream_dir: no part-*.parquet data files in {src!r}"
            )
    else:
        wanted = {os.path.basename(src): src}
    # Prune anything in the link dir that is not a symlink resolving to a
    # CURRENT data file: stale links from a regenerated source (lexists
    # catches dangling symlinks that exists() would miss), but also a
    # plain file or directory squatting on a link name. Concurrent
    # sessions share this tempdir and race on the prune itself — the
    # loser's unlink hits an already-removed name, which is success, not
    # failure (the creation loop below tolerates the same interleave).
    import contextlib

    for n in os.listdir(d):
        p = os.path.join(d, n)
        ok = (
            os.path.islink(p)
            and n in wanted
            and os.path.realpath(p) == os.path.realpath(wanted[n])
        )
        if not ok:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(p)
    # Creation races with a concurrent session: both can pass the prune,
    # so the loser's symlink() raises FileExistsError — benign iff what
    # won resolves to the same target (re-validated), one retry covers
    # the unlink/symlink interleave.
    for name, target in wanted.items():
        link = os.path.join(d, name)
        for _ in range(2):
            if os.path.islink(link) and os.path.realpath(link) == (
                os.path.realpath(target)
            ):
                break
            if os.path.lexists(link):
                os.unlink(link)
            try:
                os.symlink(target, link)
            except FileExistsError:
                continue  # concurrent creator won; re-validate
            break
        if not (
            os.path.islink(link)
            and os.path.realpath(link) == os.path.realpath(target)
        ):
            raise RuntimeError(
                f"parquet_stream_dir: {link!r} is contended by another "
                f"writer and does not resolve to {target!r}"
            )
    return d
