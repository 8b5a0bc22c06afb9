"""r9 verdict task 6: REAL kill -9 crash injection for the index
lifecycle. The drift/crash states elsewhere in the suite are reached
via monkeypatched aborts; here a CHILD PROCESS (tools/crash_child.py)
is SIGKILLed at fsio barriers mid-mutation — dead mid-parquet-write,
dead between write_json's two renames, dead holding the writer lock —
and the parent asserts the index is readable (or recoverable per the
documented contract), the orphaned lease is broken immediately (dead
local pid, no TTL wait), and a re-run of the same mutation converges.

All nine (family x op) cells run, with the barrier cycled so every
barrier kind is exercised against every family; mid_data_write kills
are additionally jittered by a per-scenario deterministic delay. The
module is `slow`; the three `smoke` cells also run by default."""

from __future__ import annotations

import os
import random
import signal
import subprocess
import sys
import time

import pytest

# r15 (verdict task 5): kill-9 fuzz harness — excluded from the
# default run (pytest.ini deselects `slow`); run with -m "" / -m slow
pytestmark = pytest.mark.slow

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD = os.path.join(REPO, "tools", "crash_child.py")
BARRIERS = ["before_meta_write", "mid_meta_rename", "mid_data_write"]
FAMILIES = ["minhash", "embed", "ivf"]
OPS = ["build", "append", "compact"]


def _vecs(spark, ids):
    import numpy as np

    rng = np.random.default_rng(101)
    return spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(16)]) for i in ids],
        "vec_id long, embedding array<double>",
    )


def _docs(spark, ids):
    return spark.createDataFrame(
        [
            (i, " ".join(f"tok{i}_{j}" for j in range(30)))
            for i in ids
        ],
        "doc_id long, text string",
    )


def _seed_index(spark, family, op, idx):
    """Pre-create the state the child's op expects."""
    if op == "build":
        return  # child builds from nothing
    if family == "minhash":
        from projet_5spar_sparkstreaming_spark.operators.dedup import (
            append_to_minhash_index,
            build_minhash_index,
        )

        build_minhash_index(_docs(spark, range(10)), idx, "doc_id", "text")
        for b, lo in ((1, 100), (2, 200)):
            append_to_minhash_index(
                _docs(spark, range(lo, lo + 5)), idx, "doc_id", "text",
                batch_id=b,
            )
    elif family == "embed":
        from projet_5spar_sparkstreaming_spark.operators.similarity import (
            append_to_embed_lsh_index,
            build_embed_lsh_index,
        )

        build_embed_lsh_index(
            _vecs(spark, range(10)), idx, "vec_id", "embedding",
            n_planes=4, n_tables=2, dim=16,
        )
        for b, lo in ((1, 100), (2, 200)):
            append_to_embed_lsh_index(
                _vecs(spark, range(lo, lo + 5)), idx, "vec_id", "embedding",
                batch_id=b,
            )
    else:
        from projet_5spar_sparkstreaming_spark.operators.similarity import (
            append_to_ivf_index,
            build_ivf_index,
        )

        build_ivf_index(
            _vecs(spark, range(40)), idx, "vec_id", "embedding",
            n_centroids=2,
        )
        for b, lo in ((1, 100), (2, 200)):
            append_to_ivf_index(
                _vecs(spark, range(lo, lo + 5)), idx, "vec_id", "embedding",
                batch_id=b,
            )


def _recover_and_check(spark, family, op, idx):
    """The documented recovery: re-run the SAME mutation (build and
    append are overwrite-idempotent; compaction cleans stale
    next-version trees first). Then assert meta/data consistency."""
    from projet_5spar_sparkstreaming_spark.fsio import read_json

    if family == "minhash":
        from projet_5spar_sparkstreaming_spark.operators.dedup import (
            append_to_minhash_index,
            build_minhash_index,
            compact_minhash_index,
            minhash_query_index,
            read_minhash_meta,
        )
        from projet_5spar_sparkstreaming_spark.streaming.dedup import (
            require_index_meta_consistent,
        )

        if op == "build":
            build_minhash_index(
                _docs(spark, range(20)), idx, "doc_id", "text"
            )
            expect = {"0"}
        elif op == "append":
            append_to_minhash_index(
                _docs(spark, range(700, 710)), idx, "doc_id", "text",
                batch_id=7,
            )
            expect = {"0", "1", "2", "7"}
        else:
            meta = compact_minhash_index(spark, idx, keep_last=1)
            assert meta["version"] >= 1
            expect = {"0", "2"}
        meta = read_minhash_meta(spark, idx)
        require_index_meta_consistent(spark, idx, meta)
        assert set(meta["batches"]) == expect, meta["batches"]
        # a doc from every surviving batch is queryable
        probe_id = 700 if op == "append" else 5
        probe_text = _docs(spark, [probe_id]).collect()[0]["text"]
        probe = spark.createDataFrame(
            [(9000 + probe_id, probe_text)], "doc_id long, text string"
        )
        hits = minhash_query_index(
            probe, idx, "doc_id", "text", threshold=0.9
        )
        assert probe_id in {r["id_b"] for r in hits.collect()}
        return
    if family == "embed":
        from projet_5spar_sparkstreaming_spark.operators.similarity import (
            append_to_embed_lsh_index,
            build_embed_lsh_index,
            compact_embed_lsh_index,
            read_embed_lsh_meta,
        )

        if op == "build":
            build_embed_lsh_index(
                _vecs(spark, range(20)), idx, "vec_id", "embedding",
                n_planes=4, n_tables=2, dim=16,
            )
            expect = {"0"}
        elif op == "append":
            append_to_embed_lsh_index(
                _vecs(spark, range(700, 710)), idx, "vec_id", "embedding",
                batch_id=7,
            )
            expect = {"0", "1", "2", "7"}
        else:
            meta = compact_embed_lsh_index(spark, idx, keep_last=1)
            assert meta["version"] >= 1
            expect = {"0", "2"}
        meta = read_embed_lsh_meta(spark, idx)
        assert meta is not None and set(meta["batches"]) == expect
        reader = read_embed_lsh_meta
        subs = ["buckets", "vecs"]
    else:
        from projet_5spar_sparkstreaming_spark.operators.similarity import (
            append_to_ivf_index,
            build_ivf_index,
            compact_ivf_index,
            _ivf_data_dir,
        )

        if op == "build":
            build_ivf_index(
                _vecs(spark, range(40)), idx, "vec_id", "embedding",
                n_centroids=2,
            )
            expect = {"0"}
        elif op == "append":
            append_to_ivf_index(
                _vecs(spark, range(700, 710)), idx, "vec_id", "embedding",
                batch_id=7,
            )
            expect = {"0", "1", "2", "7"}
        else:
            meta = compact_ivf_index(spark, idx, keep_last=1)
            assert meta["version"] >= 1
            expect = {"0", "2"}
        meta = read_json(spark, idx + "/_centroids.json")
        assert meta is not None and set(meta["batches"]) == expect
        version = int(meta.get("version", 0))
        rows = spark.read.parquet(_ivf_data_dir(spark, idx, version)).count()
        assert rows == sum(meta["batches"].values())
        return
    # embed tail: data rows match meta row counts on the live version
    # (each vector has one vecs row and n_tables bucket rows)
    from projet_5spar_sparkstreaming_spark.fsio import versioned_subdir

    version = int(meta.get("version", 0))
    n_rows = sum(meta["batches"].values())
    expected = {"vecs": n_rows, "buckets": n_rows * int(meta["n_tables"])}
    for sub in subs:
        rows = spark.read.parquet(versioned_subdir(idx, sub, version)).count()
        assert rows == expected[sub], (sub, rows, expected[sub])


# one cell per family and per op, which between them hit all three
# barrier kinds, also runs in the default suite (the `smoke` marker)
SMOKE = {("build", "minhash"), ("append", "embed"), ("compact", "ivf")}
CELLS = [
    pytest.param(
        op, family, id=f"{op}-{family}",
        marks=[pytest.mark.smoke] if (op, family) in SMOKE else [],
    )
    for op in OPS
    for family in FAMILIES
]


@pytest.mark.parametrize(("op", "family"), CELLS)
def test_kill9_mid_mutation_recovers(spark, tmp_path, family, op):
    barrier = BARRIERS[(FAMILIES.index(family) + OPS.index(op)) % 3]
    idx = str(tmp_path / f"{family}_{op}_idx")
    _seed_index(spark, family, op, idx)

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.Popen(
        [sys.executable, CHILD, family, op, barrier, idx],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,  # killpg must take the JVM down too
        env=env,
    )
    try:
        line, deadline = "", time.time() + 180
        while time.time() < deadline:
            line = proc.stdout.readline().strip()
            if line in ("READY", "WRITE_START", "COMPLETED_WITHOUT_BARRIER"):
                break
            if proc.poll() is not None:
                break
        assert line in ("READY", "WRITE_START"), (
            f"child never reached barrier {barrier}: {line!r}"
        )
        if line == "WRITE_START":
            # jittered kill point inside (or just before) the write job
            time.sleep(random.Random(f"{family}/{op}").uniform(0.0, 1.2))
        os.killpg(proc.pid, signal.SIGKILL)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait(timeout=30)

    # the dead holder's lock must not block recovery (pid-probe break,
    # no stale-TTL wait) — writer_lease inside the re-run proves it;
    # then the re-run must converge to a consistent, queryable index
    _recover_and_check(spark, family, op, idx)


def test_kill9_between_lock_create_and_holder_json(spark, tmp_path):
    """r13 verdict task 5: the 60 s JSON-less grace (fsio.py,
    _JSONLESS_GRACE_SEC) was unit-tested with synthetic debris only —
    here a REAL process is SIGKILLed between the writer lease's
    create(lock, overwrite=false) and its holder-JSON write. The torn
    lock has no holder identity (no pid probe, no heartbeat token), so
    the ONLY admissible break is the JSON-less grace; a follow-on
    writer must acquire within grace+epsilon — never the 30-min TTL —
    and the re-run mutation must converge to a consistent index."""
    import projet_5spar_sparkstreaming_spark.fsio as fsio

    family, op = "minhash", "append"
    idx = str(tmp_path / "torn_lock_idx")
    _seed_index(spark, family, op, idx)

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.Popen(
        [sys.executable, CHILD, family, op, "post_lock_create", idx],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,
        env=env,
    )
    try:
        line, deadline = "", time.time() + 180
        while time.time() < deadline:
            line = proc.stdout.readline().strip()
            if line in ("READY", "COMPLETED_WITHOUT_BARRIER"):
                break
            if proc.poll() is not None:
                break
        assert line == "READY", f"child never reached barrier: {line!r}"
        os.killpg(proc.pid, signal.SIGKILL)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait(timeout=30)

    # the torn state this killpoint exists to produce: lock file on
    # disk, holder JSON never landed (empty / unparseable)
    lock = idx + ".writer.lock"
    assert os.path.exists(lock), "kill landed before the lock create"
    assert fsio._read_holder(spark, lock) is None, "holder JSON landed"

    # compress the grace so the test proves the MECHANISM in seconds
    # (production keeps 60 s); age the lock past it rather than sleep
    real_grace = fsio._JSONLESS_GRACE_SEC
    fsio._JSONLESS_GRACE_SEC = 5.0
    old = time.time() - 6.0
    os.utime(lock, (old, old))
    try:
        t0 = time.monotonic()
        _recover_and_check(spark, family, op, idx)
        elapsed = time.monotonic() - t0
    finally:
        fsio._JSONLESS_GRACE_SEC = real_grace
    # grace-scale, not TTL-scale: the whole re-run (break + append +
    # consistency checks, several Spark jobs) stays well under a minute
    # where a TTL wait alone would be 1800 s
    assert elapsed < 120.0, elapsed
    assert not os.path.exists(lock)


STREAM_CHILD = os.path.join(REPO, "tools", "crash_stream_child.py")


def _stream_src(tmp_path, guard):
    """6 jsonl files x 10 distinct rows -> 3 micro-batches at
    maxFilesPerTrigger=2; mtimes spread so file order is stable."""
    import json as _json

    import numpy as np

    src = tmp_path / "src"
    src.mkdir()
    for f in range(6):
        lines = []
        for r in range(10):
            i = f * 10 + r
            if guard == "minhash":
                toks = " ".join(f"tok{i}_{j}" for j in range(30))
                lines.append(_json.dumps({"doc_id": i, "text": toks}))
            else:
                rng = np.random.RandomState(900 + i)
                v = rng.standard_normal(16)
                v /= np.linalg.norm(v)
                lines.append(
                    _json.dumps(
                        {"vec_id": i, "embedding": [float(x) for x in v]}
                    )
                )
        p = src / f"b{f:02d}.json"
        p.write_text("\n".join(lines))
        ts = time.time() - (6 - f) * 60
        os.utime(p, (ts, ts))
    return str(src)


@pytest.mark.parametrize("guard", ["minhash", "embed", "ivf"])
@pytest.mark.parametrize(
    "killpoint",
    ["before_index_append", "mid_append_meta", "mid_first_build",
     "post_build_meta"],
)
def test_kill9_streaming_guard_exactly_once(spark, tmp_path, guard, killpoint):
    """r10 verdict task 5 (+ the r11 IVF maintenance stream): SIGKILL
    the ingest guards mid-micro-batch — after the survivors write but
    before the index append, and mid-append (batch data written, meta
    not) — then restart from the SAME checkpoint and assert the
    replay semantics yield exactly-once outputs and a consistent
    index (and the corpse's writer lock is broken immediately, not
    after the stale TTL). For the IVF guard exactly-once is the
    (cell, batch_id) dynamic-overwrite idempotency: the restarted
    stream must leave 60 distinct stored ids and brute-route queries
    identical to a batch-exact index."""
    src = _stream_src(tmp_path, guard)
    out = str(tmp_path / "out")
    idx = str(tmp_path / "idx")
    chk = str(tmp_path / "chk")

    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.Popen(
        [sys.executable, STREAM_CHILD, guard, killpoint, src, out, idx, chk],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,
        env=env,
    )
    try:
        line, deadline = "", time.time() + 240
        while time.time() < deadline:
            line = proc.stdout.readline().strip()
            if line in ("READY", "COMPLETED_WITHOUT_BARRIER"):
                break
            if proc.poll() is not None:
                break
        assert line == "READY", f"child never reached barrier: {line!r}"
        os.killpg(proc.pid, signal.SIGKILL)
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait(timeout=30)

    if killpoint == "mid_first_build":
        # the child died with batch 0's index data on disk and no meta —
        # historically a permanent retry wedge; the .building marker
        # must be up so the restart can self-heal by rebuilding
        from projet_5spar_sparkstreaming_spark.fsio import (
            build_marker_present,
            read_json,
        )

        meta_name = (
            "_centroids.json" if guard == "ivf" else "_meta.json"
        )
        assert os.path.isdir(idx), "build data never hit disk pre-kill"
        assert read_json(spark, f"{idx}/{meta_name}") is None
        assert build_marker_present(spark, idx)

    if killpoint == "post_build_meta":
        # the child died BETWEEN the build's meta write and its marker
        # clear (r12 advice): the index is fully committed but the
        # .building marker is stale debris — the restart's first
        # lease-holding mutation must shed it (the post-restart
        # build_marker_present assertion below is the check)
        from projet_5spar_sparkstreaming_spark.fsio import (
            build_marker_present,
            read_json,
        )

        meta_name = (
            "_centroids.json" if guard == "ivf" else "_meta.json"
        )
        assert read_json(spark, f"{idx}/{meta_name}") is not None
        assert build_marker_present(spark, idx)

    # restart the SAME guard from the SAME checkpoint in this process;
    # the dead child's writer lock must not block (dead-pid break)
    from projet_5spar_sparkstreaming_spark.streaming.dedup import (
        stream_embed_neardup_ingest,
        stream_ivf_ingest,
        stream_neardup_ingest,
    )

    if guard == "minhash":
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "2")
            .json(src)
        )
        q = stream_neardup_ingest(
            stream, out, idx, chk, trigger={"availableNow": True}
        )
    else:
        stream = (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", "2")
            .json(src)
        )
        if guard == "embed":
            q = stream_embed_neardup_ingest(
                stream, out, idx, chk, dim=16, trigger={"availableNow": True}
            )
        else:
            q = stream_ivf_ingest(
                stream, idx, chk, trigger={"availableNow": True},
                expected_index_rows=4096,
            )
    assert q.awaitTermination(300), "restarted guard did not finish"

    # a completed build always clears its marker (stale markers would
    # let a LATER mid-swap meta transient be misread as a crashed build)
    from projet_5spar_sparkstreaming_spark.fsio import build_marker_present

    assert not build_marker_present(spark, idx)

    if guard == "ivf":
        # exactly-once for the maintenance stream = idempotent
        # (cell, batch_id) overwrite: 60 distinct stored ids, meta
        # covering the three micro-batches, and brute-route queries
        # serving every vector as its own top-1
        from pyspark.sql import functions as F

        from projet_5spar_sparkstreaming_spark.fsio import read_json
        from projet_5spar_sparkstreaming_spark.operators.similarity import (
            _ivf_data_dir,
            query_ivf_index,
        )

        meta = read_json(spark, idx + "/_centroids.json")
        assert set(meta["batches"]) == {"0", "1", "2"}
        assert sum(meta["batches"].values()) == 60
        data = spark.read.option(
            "basePath", _ivf_data_dir(spark, idx, int(meta.get("version", 0)))
        ).parquet(_ivf_data_dir(spark, idx, int(meta.get("version", 0))))
        stored_ids = sorted(r["id"] for r in data.select("id").collect())
        assert stored_ids == list(range(60)), stored_ids
        probes = data.select(
            F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
        ).filter(F.col("vec_id") < 5)
        served = query_ivf_index(
            spark, probes, idx, "vec_id", "embedding",
            k=1, exclude_self=False, route="brute",
        )
        assert sorted(
            (r["query_id"], r["neighbor_id"]) for r in served.collect()
        ) == [(i, i) for i in range(5)]
        return

    id_col = "doc_id" if guard == "minhash" else "vec_id"
    kept = [r[id_col] for r in spark.read.parquet(out).select(id_col).collect()]
    # all 60 rows distinct by construction -> survivors = all, each
    # EXACTLY once (a replayed batch that self-matched against its own
    # crashed index write would drop all 20 of its rows; a double
    # append would double them)
    assert sorted(kept) == list(range(60)), sorted(kept)

    # index consistent: meta covers the three micro-batches, and the
    # stored data row counts match the meta exactly
    if guard == "minhash":
        from projet_5spar_sparkstreaming_spark.fsio import versioned_subdir
        from projet_5spar_sparkstreaming_spark.operators.dedup import (
            read_minhash_meta,
        )

        meta = read_minhash_meta(spark, idx)
        assert set(meta["batches"]) == {"0", "1", "2"}
        assert sum(meta["batches"].values()) == 60
        version = int(meta.get("version", 0))
        sig_rows = spark.read.parquet(
            versioned_subdir(idx, "sigs", version)
        ).count()
        assert sig_rows == 60
    else:
        from projet_5spar_sparkstreaming_spark.fsio import versioned_subdir
        from projet_5spar_sparkstreaming_spark.operators.similarity import (
            read_embed_lsh_meta,
        )

        meta = read_embed_lsh_meta(spark, idx)
        assert set(meta["batches"]) == {"0", "1", "2"}
        assert sum(meta["batches"].values()) == 60
        version = int(meta.get("version", 0))
        vec_rows = spark.read.parquet(
            versioned_subdir(idx, "vecs", version)
        ).count()
        assert vec_rows == 60
