"""Filesystem-abstracted small-file I/O for index metadata.

Index *data* (parquet sigs/bands/cells) always travels through Spark's
Hadoop-backed writers, so it works identically on file://, HDFS and
S3. Index *metadata* (``_meta.json``, ``_centroids.json``) written with
plain ``open()`` and probed with ``os.walk`` does NOT: on object
storage the driver-local check silently reports "no index", and a
streaming guard would skip cross-batch dedup entirely. These helpers
route the small JSON files through the same Hadoop ``FileSystem``
abstraction as the data (via the JVM gateway), so index existence and
parameters are consistent with wherever the parquet actually lives.

Absent in the reference — its only persistence was JDBC appends
(reference: src/spark_stream.py:107-144); required here by the
persistable dedup/ANN indexes (operators/dedup.py:build_minhash_index,
operators/similarity.py:build_ivf_index) and the streaming ingest
guards (streaming/dedup.py).
"""

from __future__ import annotations

import contextlib as _contextlib
import json
import os as _os
import socket as _socket
import threading as _threading
import time as _time
import uuid as _uuid
from typing import Any

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path`` under the session's
    Hadoop configuration — resolves file://, hdfs://, s3a://, ... by
    scheme."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists on its OWN filesystem (not the
    driver's local disk)."""
    fs, hpath = _fs_path(spark, path)
    return bool(fs.exists(hpath))


def write_json(spark: SparkSession, path: str, obj: Any) -> None:
    """Serialize ``obj`` as UTF-8 JSON at ``path``, overwriting.

    Written to a ``.tmp`` sibling, the live file renamed aside to
    ``.old``, the ``.tmp`` renamed into place, then the aside copy
    dropped — every rename's boolean result is CHECKED (Hadoop's
    ``FileSystem.rename`` reports failure by returning false, not by
    throwing), and a false raises ``IOError`` with the old content
    still recoverable at ``.old`` instead of silently losing the
    metadata update. A reader never observes a torn file; it can
    observe "no file" for the instant between the two renames (on S3
    rename is copy+delete, so the window is wider there)."""
    fs, hpath = _fs_path(spark, path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    tmp = jpath(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj).encode("utf-8")))
    finally:
        out.close()
    old = jpath(path + ".old")
    had_old = False
    if fs.exists(hpath):
        if fs.exists(old):
            # Stale aside from a prior crash; the live file is the
            # durable copy, so dropping it now is safe (the slot must
            # be free for the rename below).
            fs.delete(old, False)
        if not fs.rename(hpath, old):
            raise IOError(f"rename {path} -> {path}.old failed")
        had_old = True
    # Live-absent case (crash between the two renames last time): the
    # surviving .old is the ONLY durable copy — it must outlive the
    # publish rename, so its cleanup is deferred to the success path
    # below. At every instant one durable copy (live or .old) exists.
    if not fs.rename(tmp, hpath):
        if had_old:
            fs.rename(old, hpath)  # best-effort restore
        raise IOError(f"rename {path}.tmp -> {path} failed")
    if fs.exists(old):
        # the new live file is durable: drop the aside (the fresh one
        # from this write, or a crash-survivor from a previous one —
        # cleaned here so it never lingers behind newer content)
        fs.delete(old, False)


def _host_boot_id() -> str:
    """A host-identity token stronger than the hostname: the kernel's
    per-boot uuid where available (Linux), else "". Cloned VMs and
    containers launched with the same ``--hostname`` share a hostname
    but never a boot id, so the dead-pid fast break below cannot
    mistake a LIVE remote holder (whose pid happens not to exist
    locally) for a local corpse."""
    try:
        with open("/proc/sys/kernel/random/boot_id") as f:
            return f.read().strip()
    except Exception:
        return ""


def _proc_starttime(pid: int) -> str:
    """The pid's kernel start time (/proc/<pid>/stat field 22, jiffies
    since boot) — a (boot_id, pid, starttime) triple is a unique
    process identity, immune to pid recycling. Empty string when
    unreadable (non-Linux, or the pid is gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        # field 2 (comm) may contain spaces/parens: split after the
        # LAST ')' — starttime is overall field 22, i.e. index 19 of
        # the remainder (whose first entry is field 3, state)
        return stat.rsplit(")", 1)[1].split()[19]
    except Exception:
        return ""


def _read_holder(spark: SparkSession, lock_path: str) -> Any:
    """Best-effort parse of a lock file's holder JSON; None when the
    file is absent, torn, or unreadable."""
    try:
        return read_json(spark, lock_path)
    except Exception:
        return None


def _holder_dead_on_this_host(holder: Any) -> bool:
    """True iff the recorded ``holder`` ran ON THIS HOST (hostname AND
    boot id must both match — hostname alone collides across cloned
    VMs / same-``--hostname`` containers) and its process is provably
    gone — a kill -9'd writer, breakable immediately instead of after
    ``stale_sec`` (which exists for holders whose liveness CANNOT be
    checked: another host, or a lock whose holder JSON never landed).

    "Provably gone" (r13, found by the extended lease fuzz): the pid
    no longer exists, OR the pid exists but its kernel start time
    differs from the one the holder recorded — a RECYCLED pid. With
    pid_max 32768 a process-churny host wraps the pid space well
    inside one stale TTL, and the old pid-exists probe then mistook an
    unrelated live process for the dead holder, stalling every writer
    for the full 30-minute TTL (observed as a 600 s acquisition
    timeout in FUZZ_EXTENDED_r13). Legacy holders without a recorded
    ``pid_start`` keep the conservative TTL path; any parse failure
    falls back to the TTL path (returns False)."""
    try:
        if not isinstance(holder, dict):
            return False
        if holder.get("host") != _socket.gethostname():
            return False
        ours = _host_boot_id()
        if not ours or holder.get("boot_id") != ours:
            return False
        pid = int(holder.get("pid", 0))
        if pid <= 0:
            return False
        _os.kill(pid, 0)  # signal 0: existence probe only
        recorded = holder.get("pid_start")
        if recorded:
            live = _proc_starttime(pid)
            if live and live != str(recorded):
                return True  # pid recycled: the holder itself is dead
        return False
    except ProcessLookupError:
        return True
    except Exception:
        return False


# a JSON-less lock older than this is torn debris from a holder killed
# between its create and its holder-JSON write (see writer_lease)
_JSONLESS_GRACE_SEC = 60.0


def _hb_params() -> tuple[float, float]:
    """(heartbeat interval, declared-dead silence threshold) in seconds
    for the lease heartbeat (r13 verdict task 1). Env-overridable so
    crash harnesses can compress the timeline without production code
    paths diverging: ``SPARK_GRAFT_LEASE_HB_SEC`` (default 10) and
    ``SPARK_GRAFT_LEASE_HB_DEAD_SEC`` (default 90). The dead threshold
    is floored at 3 heartbeat intervals so one missed stamp (FS hiccup,
    GC pause) can never read as death."""
    try:
        hb = float(_os.environ.get("SPARK_GRAFT_LEASE_HB_SEC") or 10.0)
    except Exception:
        hb = 10.0
    hb = max(hb, 0.1)
    try:
        dead = float(_os.environ.get("SPARK_GRAFT_LEASE_HB_DEAD_SEC") or 90.0)
    except Exception:
        dead = 90.0
    return hb, max(dead, 3.0 * hb)


def _holder_heartbeat_silent(
    spark: SparkSession, lock_name: str, holder: Any, lock_age: float
) -> bool:
    """True iff the recorded ``holder`` DECLARED a heartbeat contract
    (``hb_dead_sec`` in its holder JSON) and has now been silent longer
    than it promised — the CROSS-HOST liveness probe the r13 identity
    fix could not provide (r13 verdict: ``_holder_dead_on_this_host``
    is same-host only by design, so on shared object storage a writer
    crashing on host A stalled host B's writers for the full 30-min
    ``stale_sec`` TTL).

    A live holder re-stamps ``{lock}.hb`` every ``hb_sec`` (see
    ``writer_lease``); silence is judged from that file's mtime — the
    same clock convention as the existing lock-age staleness check, so
    no new cross-host clock-skew exposure. When no heartbeat from THIS
    holder's token has ever landed (first stamp lost, or a previous
    holder's stale stamp lingers), silence falls back to the lock's own
    age: the holder writes its first stamp immediately after acquiring,
    so a declared-heartbeat lock with no matching stamp after
    ``hb_dead_sec`` is equally dead. Legacy holders that never declared
    the contract keep the conservative TTL path (returns False); any
    probe failure also returns False (TTL fallback)."""
    try:
        if not isinstance(holder, dict):
            return False
        dead = float(holder.get("hb_dead_sec") or 0.0)
        if dead <= 0.0:
            return False  # legacy holder: TTL fallback only
        hb_name = lock_name + ".hb"
        hb = _read_holder(spark, hb_name)
        if isinstance(hb, dict) and hb.get("token") == holder.get("token"):
            fs, hpath = _fs_path(spark, hb_name)
            try:
                st = fs.getFileStatus(hpath)
            except Exception:
                # killed (or mid-rename) between write_json's two
                # renames: the .old aside is what _read_holder parsed —
                # judge silence from ITS mtime (at most one interval
                # older than the torn stamp; safely under dead_sec for
                # a live holder, and the only durable evidence for a
                # dead one)
                st = fs.getFileStatus(
                    spark._jvm.org.apache.hadoop.fs.Path(hb_name + ".old")
                )
            silence = _time.time() - st.getModificationTime() / 1000.0
        else:
            silence = lock_age
        return silence > dead
    except Exception:
        return False


def _break_stale_lock(
    spark: SparkSession,
    lock_name: str,
    observed: Any,
    stale_sec: float,
) -> bool:
    """Break a presumed-crashed holder's lock, claiming the break by
    RENAME to a unique tombstone — exactly one breaker's rename
    succeeds; only that one deletes the tombstone. Losers (rename
    false / src vanished) just re-race the create.

    Breaker-vs-NEW-holder guard: between the caller's staleness
    observation (``observed`` = the holder JSON it judged stale/dead)
    and the rename here, ANOTHER waiter may have broken the same stale
    lock and a fresh holder created a new lock at the same path —
    deleting that would displace a LIVE lease (two concurrent holders,
    last-write-wins meta, silent lost batch on append-vs-append). So
    after the rename, re-read the tombstone's holder JSON: if it
    differs from ``observed``, it is the fresh holder's lock — rename
    it BACK into place instead of deleting it. Returns True iff the
    stale lock was actually removed."""
    fs, lock = _fs_path(spark, lock_name)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    tomb_name = (
        f"{lock_name}.break.{_os.getpid()}.{_uuid.uuid4().hex[:8]}"
    )
    tomb = jpath(tomb_name)
    try:
        # Re-check IMMEDIATELY before the rename (r12, found by the
        # lease fuzz): between the caller's staleness observation and
        # this point, another waiter may already have broken the stale
        # lock AND a fresh holder created a new one — renaming that
        # away opens a window (until the rename-back below) where the
        # path is empty and a third waiter's create succeeds, leaving
        # TWO live holders when the restore then fails. A fresh holder
        # is visible as holder JSON differing from what the caller
        # judged stale, so bail before touching it. (The residual
        # TOCTOU between this read and the rename is microseconds —
        # and the lease-token fencing at every meta commit
        # (``validate``) turns even that into an abort, not a lost
        # update.)
        if _read_holder(spark, lock_name) != observed:
            return False
        if not fs.rename(lock, tomb):
            return False
        captured = _read_holder(spark, tomb_name)
        same = captured == observed
        if same and captured is None:
            # Both unreadable: either the SAME JSON-less stale lock,
            # or a FRESH lock whose holder bytes are still mid-flight.
            # Rename preserves mtime — a young tombstone is the fresh
            # case (a JSON-less lock can only be judged stale via the
            # age > stale_sec path).
            try:
                tst = fs.getFileStatus(tomb)
                tage = _time.time() - tst.getModificationTime() / 1000.0
                same = tage > stale_sec
            except Exception:
                same = False
        if same:
            fs.delete(tomb, False)
            return True
        if not fs.rename(tomb, lock):
            # Path re-occupied by yet another fresh lock: leave the
            # tombstone on disk — recoverable evidence beats deleting
            # a live holder's lease record.
            pass
        return False
    except Exception:
        return False


class LeaseLostError(RuntimeError):
    """The writer lease was displaced mid-mutation (a breaker judged a
    PREVIOUS corpse-lock stale and the tombstone dance swapped our live
    lock out from under us, or an operator broke it manually). Raised
    by ``_LeaseHandle.validate`` BEFORE any meta commit, so the
    mutation aborts instead of last-writer-wins-clobbering a meta some
    other admitted writer has advanced; callers retry exactly like a
    failed micro-batch (batch data already written is replay-safe:
    dynamic per-batch overwrite + orphan shedding)."""


class _LeaseHandle:
    """Yielded by ``writer_lease``: fencing for the commit point.

    ``validate()`` re-reads the lock file and requires OUR token —
    call it immediately before a meta ``write_json`` (the one effect
    that damages concurrent writers). The r12 lease fuzz produced the
    exact trace this closes: holder A mid-append, a breaker (judging a
    third writer's corpse-lock stale) momentarily emptied the lock
    path, waiter B created a fresh lock, and A's eventual meta write
    silently erased the five batches B-and-friends had committed —
    caught only by the rebuild drift guard downstream. With fencing, A
    aborts at its own commit point instead."""

    def __init__(self, spark, lock_name: str, token: str):
        self._spark = spark
        self._lock_name = lock_name
        self._token = token

    def validate(self) -> None:
        holder = _read_holder(self._spark, self._lock_name)
        if not (isinstance(holder, dict) and holder.get("token") == self._token):
            raise LeaseLostError(
                f"writer lease {self._lock_name} no longer ours "
                f"(holder now: {holder!r}) — aborting before the meta "
                "commit; re-run the mutation"
            )

    @_contextlib.contextmanager
    def guard_data_writes(self):
        """Wrap a mutation's DATA-write phase so a write ripped apart by
        a new holder (r15, surfaced by the lease fuzz under host load):
        a displaced lease's in-flight parquet job can fail with an
        arbitrary IO error when the NEW holder's compaction deletes the
        version tree (or a replacement writer's overwrite deletes the
        batch dir) out from under it — semantically the same designed
        abort ``validate()`` raises at the commit fence, but surfacing
        as a raw ``Py4JJavaError`` that retry loops and the fuzz treat
        as a genuine failure. On any exception here, re-check the
        lease: if it is no longer ours, raise ``LeaseLostError`` (the
        caller retries like a failed micro-batch); if we still hold it,
        the failure is real — re-raise it unchanged. A lease probe that
        itself fails (not ``LeaseLostError``) says nothing about the
        lease, so the data-write error is re-raised then too; interrupts
        (``BaseException``) pass through unprobed."""
        try:
            yield
        except LeaseLostError:
            raise
        except Exception as e:
            try:
                self.validate()
            except LeaseLostError as lost:
                raise lost from e
            except Exception:
                pass
            raise


@_contextlib.contextmanager
def writer_lease(
    spark: SparkSession,
    index_path: str,
    timeout_sec: float = 600.0,
    stale_sec: float = 1800.0,
    poll_sec: float = 0.25,
):
    """Cross-process writer lease for index mutations.

    Every meta-mutating index operation (build / append / compact, all
    three families) runs under this lease, which serializes WRITERS —
    the race the versioned-subtree design can't solve alone: an append
    landing between a compactor's meta snapshot and its version flip
    would commit a batch subtree + meta entry that the compacted
    ``v_{N+1}`` tree omits (silent data loss on the flip), and two
    concurrent appends would lose one batch's meta entry to the
    other's ``write_json``. Readers take no lease — reader-safety is
    the versioned subtrees' job.

    The lease is the sibling file ``{index}.writer.lock`` (OUTSIDE the
    index dir, so builds can delete/recreate the tree they own while
    holding it), acquired with Hadoop ``create(overwrite=false)`` —
    atomic on local/HDFS (on S3 the create-if-absent race window is
    object-store-consistency-bound; the compactors' abort-on-drift
    re-validation at flip time is the backstop there and for
    ``stale_sec`` breaks of a crashed holder's lock). Acquisition
    polls up to ``timeout_sec`` then raises ``TimeoutError``; a lock
    older than ``stale_sec`` is presumed crashed and broken — and a
    holder recorded as THIS host whose pid is gone (kill -9'd writer)
    is broken immediately, no TTL wait (``_holder_dead_on_this_host``).
    CROSS-HOST liveness (r13 verdict task 1) is a heartbeat: the holder
    declares ``hb_sec``/``hb_dead_sec`` in its holder JSON and a daemon
    thread re-stamps the sibling ``{lock}.hb`` every ``hb_sec`` (~10 s
    default; one small write_json, trivial next to any index mutation),
    so ANY waiter — same host or foreign — may break the lock once the
    heartbeat has been silent longer than the holder's own declared
    ``hb_dead_sec`` (~90 s default; ``_holder_heartbeat_silent``). The
    TTL remains the fallback for holders that never declared the
    contract (legacy metas, mixed-version writers) and for locks whose
    holder JSON never landed (those get the 60 s JSON-less grace).
    Either break is claimed ATOMICALLY by renaming the stale lock to a
    per-breaker tombstone name (rename succeeds for exactly one
    process), so two waiters that both observed staleness can never
    interleave a delete under each other's fresh create and both walk
    away "holding" the lease. Release deletes the file.

    Yields a ``_LeaseHandle`` whose ``validate()`` is the COMMIT FENCE
    (r12, forced by the lease fuzz): every index mutation calls it
    immediately before its meta ``write_json``, so a holder whose lock
    was displaced by the tombstone dance (a breaker momentarily
    emptying the path while judging a THIRD writer's corpse-lock
    stale, letting a fresh waiter in) aborts with ``LeaseLostError``
    instead of last-writer-wins-erasing the batches the new holder
    committed; existing ``with writer_lease(...):`` callers that
    ignore the handle remain valid."""
    fs, _ = _fs_path(spark, index_path)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    lock_name = index_path.rstrip("/") + ".writer.lock"
    lock = jpath(lock_name)
    deadline = _time.monotonic() + timeout_sec
    while True:
        try:
            out = fs.create(lock, False)
        except Exception:
            out = None  # held by someone (or FS hiccup): fall through
        if out is not None:
            # the lock file exists and is OURS; if the holder-metadata
            # write faults (disk full, stream fault) we must not orphan
            # it — every other writer would block until stale_sec
            hb_sec, hb_dead_sec = _hb_params()
            try:
                try:
                    holder = {
                        "pid": _os.getpid(),
                        # pid start time: (boot_id, pid, pid_start) is
                        # a recycling-proof process identity (r13)
                        "pid_start": _proc_starttime(_os.getpid()),
                        "host": _socket.gethostname(),
                        "boot_id": _host_boot_id(),
                        "token": _uuid.uuid4().hex,
                        "acquired_unix": _time.time(),
                        # heartbeat contract (r14): waiters on ANY host
                        # may treat heartbeat silence > hb_dead_sec as
                        # death — the cross-host break the pid probe
                        # can't provide
                        "hb_sec": hb_sec,
                        "hb_dead_sec": hb_dead_sec,
                    }
                    out.write(bytearray(json.dumps(holder).encode("utf-8")))
                finally:
                    out.close()
            except Exception:
                try:
                    fs.delete(lock, False)
                except Exception:
                    pass
                raise
            break
        try:
            st = fs.getFileStatus(lock)
            age = _time.time() - st.getModificationTime() / 1000.0
            observed = _read_holder(spark, lock_name)
            # Torn-lock grace (r13, found by the extended lease fuzz):
            # a holder killed BETWEEN its create and its holder-JSON
            # write leaves a JSON-less lock that the dead-pid probe
            # cannot judge (no pid) — it used to wait the full 30-min
            # TTL. A live acquisition writes its JSON milliseconds
            # after the create, so a JSON-less lock older than 60 s is
            # debris; if an extreme scheduler pause ever makes this
            # judgment wrong, the displaced holder's commit fence
            # (validate) aborts it instead of clobbering.
            break_ttl = (
                _JSONLESS_GRACE_SEC
                if observed is None and stale_sec > _JSONLESS_GRACE_SEC
                else stale_sec
            )
            if (
                age > break_ttl
                or _holder_dead_on_this_host(observed)
                or _holder_heartbeat_silent(spark, lock_name, observed, age)
            ):
                _break_stale_lock(spark, lock_name, observed, break_ttl)
                continue
        except Exception:
            pass  # released between create and stat — retry now
        if _time.monotonic() > deadline:
            raise TimeoutError(
                f"writer lease {lock} not acquired within "
                f"{timeout_sec}s (another build/append/compaction "
                "is running; or break a crashed holder's lock "
                "manually)"
            )
        _time.sleep(poll_sec)
    hb_name = lock_name + ".hb"

    def _stamp() -> None:
        write_json(
            spark,
            hb_name,
            {"token": holder["token"], "heartbeat_unix": _time.time()},
        )

    for _attempt in (0, 1):
        # first stamp lands BEFORE the mutation starts, so a waiter that
        # sees no matching stamp judges silence from the lock's age —
        # never from a previous holder's stale stamp. Retried once: the
        # PREVIOUS holder's release deletes its own stamp right after
        # dropping the lock, and under writer churn that delete can race
        # this write_json's rename dance (observed in the foreign-host
        # fuzz as a spurious rename failure at acquisition); the second
        # attempt runs after the releaser's single delete is done.
        try:
            _stamp()
            break
        except Exception:
            if _attempt:
                try:
                    fs.delete(lock, False)
                except Exception:
                    pass
                raise
            _time.sleep(0.05)
    stop_hb = _threading.Event()

    def _beat() -> None:
        # daemon: dies instantly with the process under kill -9, which
        # is exactly what makes the silence a liveness signal. A single
        # failed stamp is retried next tick; sustained stamp failure is
        # indistinguishable from death by design, and the displaced
        # holder's commit fence (validate) turns a wrong break into an
        # abort, never a clobber.
        while not stop_hb.wait(holder["hb_sec"]):
            try:
                _stamp()
            except Exception:
                pass

    beater = _threading.Thread(
        target=_beat, name="writer-lease-heartbeat", daemon=True
    )
    beater.start()
    try:
        yield _LeaseHandle(spark, lock_name, holder["token"])
    finally:
        stop_hb.set()
        beater.join(timeout=5.0)
        try:
            fs.delete(lock, False)
        except Exception:
            pass
        try:
            # drop OUR heartbeat — the LIVE file only. Token check:
            # release deletes the lock first, so a racing new holder
            # may already have stamped — never delete theirs (the
            # benign residual race — they stamp between our read and
            # delete — costs them one interval of perceived liveness;
            # the next tick recreates the file). The .old/.tmp dance
            # siblings are deliberately NOT touched here: deleting the
            # .tmp raced the NEW holder's in-flight first stamp
            # (observed in the foreign-host fuzz as a spurious rename
            # failure), a clean dance leaves neither behind anyway, and
            # crash debris is cleaned by the next write_json, not by a
            # release the crashed holder never runs.
            hb = _read_holder(spark, hb_name)
            if hb is None or (
                isinstance(hb, dict) and hb.get("token") == holder["token"]
            ):
                delete_path(spark, hb_name, recursive=False)
        except Exception:
            pass


def require_no_meta_drift(
    current: Any, snapshot_batches: dict, version: int, index_path: str
) -> None:
    """Flip-time drift guard of the index rewrites (compaction and
    rebuild, ``operators/stored_index.py``): the ``v_{N+1}`` tree was
    derived from a meta snapshot, so if the live meta's batches or
    version pointer moved since (a writer slipped past the
    ``writer_lease`` — stale-lease break or an object store's
    create-if-absent race), publishing the flip would silently drop
    that writer's batch. Abort instead: the index stays live on version
    N, the orphan ``v_{N+1}`` tree is cleaned by the next rewrite, and
    nothing is lost. ``snapshot_batches`` is the FULL
    ``dict(meta["batches"])``: a lease-bypassing writer that REPLAYS an
    existing batch_id leaves the key set unchanged but moves its row
    count."""
    cur_version = int((current or {}).get("version", 0))
    cur_batches = dict((current or {}).get("batches", {}))
    if current is None or cur_batches != snapshot_batches or cur_version != version:
        raise RuntimeError(
            f"meta drift at {index_path} during compaction: snapshot had "
            f"batches {sorted(snapshot_batches)} at version {version}, live "
            f"meta has {sorted(cur_batches)} at version {cur_version} — a "
            "concurrent writer bypassed the lease; flip ABORTED (index "
            "unchanged, re-run compaction)"
        )


def read_json(spark: SparkSession, path: str) -> Any | None:
    """Parse the JSON at ``path``; None when the file does not exist.

    Crash self-healing: when the live file is absent but its ``.old``
    aside exists, the reader is inside ``write_json``'s
    between-the-two-renames window of a writer that died (kill -9
    mid-update) — the aside IS the last durably-published content (it
    is only ever produced by renaming a fully-written live file, and
    it outlives the publish rename by construction), so return it.
    The next successful ``write_json`` publishes fresh content and
    clears the aside; nothing is ever rebuilt or refused over a state
    the crash contract already makes recoverable."""
    fs, live = _fs_path(spark, path)
    old = spark._jvm.org.apache.hadoop.fs.Path(path + ".old")
    # exists→open is a TOCTOU against a concurrent write_json (it can
    # publish the live file and delete .old, or rename live aside,
    # between our probe and our open) — so a failed open re-probes
    # once before surfacing: the transient race then returns the
    # consistent post-write content instead of an exception.
    for attempt in (0, 1):
        if fs.exists(live):
            hpath = live
        elif fs.exists(old):
            hpath = old
        else:
            return None
        try:
            inp = fs.open(hpath)
        except Exception:
            if attempt:
                raise
            continue
        try:
            s = spark._jvm.org.apache.commons.io.IOUtils.toString(
                inp, "UTF-8"
            )
        finally:
            inp.close()
        return json.loads(s)


def delete_path(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Delete ``path`` (optionally recursively); False if absent."""
    fs, hpath = _fs_path(spark, path)
    if not fs.exists(hpath):
        return False
    return bool(fs.delete(hpath, recursive))


def _build_marker_path(index_path: str) -> str:
    return index_path.rstrip("/") + ".building"


def set_build_marker(spark: SparkSession, index_path: str) -> None:
    """Declare a from-scratch index BUILD in progress: the sibling
    marker ``{index}.building`` (outside the index dir, like the
    writer lock, so the build's initial recursive delete can't eat it).
    Written by ``build_*_index`` BEFORE they delete/recreate the tree,
    cleared only after the meta lands — so data-present/meta-None
    *with the marker up* is provably a crashed build whose data was
    never acknowledged (the batch that wrote it will be replayed), and
    ``require_index_meta_consistent`` lets the retry rebuild instead
    of wedging (r11 advice: a SIGKILL during the FIRST micro-batch's
    build left a permanent retry loop — unlike the mid-swap case there
    is no ``.old`` meta aside to restore)."""
    write_json(
        spark, _build_marker_path(index_path), {"building_since_unix": _time.time()}
    )


def clear_build_marker(spark: SparkSession, index_path: str) -> None:
    """Drop the build-in-progress marker (see ``set_build_marker``)."""
    delete_path(spark, _build_marker_path(index_path), recursive=False)
    # write_json's crash asides for the marker are meaningless once the
    # build committed — drop them so nothing resurrects a stale marker
    for suffix in (".old", ".tmp"):
        delete_path(spark, _build_marker_path(index_path) + suffix, recursive=False)


def build_marker_present(spark: SparkSession, index_path: str) -> bool:
    """True when a from-scratch build is (or crashed) in progress."""
    return path_exists(spark, _build_marker_path(index_path))


def clear_stale_build_marker(spark: SparkSession, index_path: str) -> bool:
    """Shed a LINGERING build marker once the build is proven committed.

    A build that crashes between its meta ``write_json`` and its
    ``clear_build_marker`` leaves the marker up forever while the index
    lives on and accumulates batches — and a later data-present/
    meta-None read (a transient concurrent meta swap, or a crashed
    mid-life mutation: exactly the states
    ``require_index_meta_consistent`` exists to protect) would then be
    silently honored as "crashed build, safe to rebuild", and the
    rebuild's recursive delete would eat the accumulated store
    (r12 advice).

    Call ONLY while HOLDING the writer lease with a non-None meta in
    hand: the lease serializes against any in-flight build (builds hold
    it across their whole set-marker -> clear-marker span), so
    lease + committed meta + marker-present proves the marker is
    stale debris, never a live build's. Returns True if one was shed.
    """
    if not build_marker_present(spark, index_path):
        return False
    clear_build_marker(spark, index_path)
    return True


def rename_path(spark: SparkSession, src: str, dst: str) -> bool:
    """Rename/move ``src`` to ``dst`` on their shared filesystem."""
    fs, hsrc = _fs_path(spark, src)
    hdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    return bool(fs.rename(hsrc, hdst))


def list_dir(spark: SparkSession, path: str) -> list[str]:
    """Child entry NAMES (not full paths) of directory ``path`` on its
    own filesystem; empty list when the directory does not exist."""
    fs, hpath = _fs_path(spark, path)
    if not fs.exists(hpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(hpath)]


def versioned_subdir(index_path: str, sub: str, version: int) -> str:
    """An index data subtree at ``version``: the unsuffixed
    ``{index}/{sub}`` a build writes, ``{index}/{sub}_v{N}`` after N
    rewrites (``operators/stored_index.py``)."""
    base = index_path.rstrip("/")
    return f"{base}/{sub}" if version == 0 else f"{base}/{sub}_v{version}"


def clean_versions_except(
    spark: SparkSession, index_path: str, sub: str, keep: set[int]
) -> None:
    """Delete every version directory of ``sub`` under ``index_path``
    whose version number is not in ``keep`` — both stale
    next-version trees from a crashed compaction (written but never
    published) and retired grace copies from the previous one."""
    base = index_path.rstrip("/")
    for name in list_dir(spark, base):
        v = None
        if name == sub:
            v = 0
        elif name.startswith(sub + "_v"):
            try:
                v = int(name[len(sub) + 2:])
            except ValueError:
                continue
        if v is not None and v not in keep:
            delete_path(spark, f"{base}/{name}")
