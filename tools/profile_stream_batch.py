"""Per-phase breakdown of the streaming ingest guards' micro-batch
fixed cost (r14 verdict task 4, guide §1: measure before touching).

Wraps the functions the foreachBatch bodies call (meta read, ingest
plan build, index append, writer lease acquire/hold) with timers, runs
each guard over a small split copy with availableNow, and prints
per-phase medians next to the per-batch trigger durations — the
remainder (batch total - instrumented phases) is the survivors write +
stream machinery.

Usage: python tools/profile_stream_batch.py [minhash|embed] ...
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Output: plans/r15/profile_stream_batch.json
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import tempfile
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TIMES: dict[str, list[float]] = defaultdict(list)


def _wrap(mod, name: str) -> None:
    orig = getattr(mod, name)

    def timed(*a, **k):
        t0 = time.time()
        try:
            return orig(*a, **k)
        finally:
            TIMES[name].append(time.time() - t0)

    timed.__wrapped__ = orig
    setattr(mod, name, timed)


def main() -> None:
    which = set(sys.argv[1:]) or {"minhash", "embed"}
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from projet_5spar_sparkstreaming_spark import fsio
    from projet_5spar_sparkstreaming_spark.operators import dedup as od
    from projet_5spar_sparkstreaming_spark.operators import similarity as sim
    from projet_5spar_sparkstreaming_spark.operators import stored_index as si
    from projet_5spar_sparkstreaming_spark.session import get_spark
    from projet_5spar_sparkstreaming_spark.streaming import dedup as sd
    from projet_5spar_sparkstreaming_spark.sources.files import read_parquet_table

    spark = get_spark("profile_stream_batch")

    # phase wrappers
    _wrap(si, "read_meta")  # the guards' one meta read per batch
    _wrap(od, "minhash_signature_arrow")
    _wrap(od, "append_to_minhash_index")
    _wrap(sim, "append_to_embed_lsh_index")
    _wrap(sim, "embed_lsh_query_index")
    _wrap(od, "minhash_query_index")
    _wrap(sd, "minhash_ingest_batch")
    _wrap(sd, "embed_ingest_batch")

    orig_lease = fsio.writer_lease

    @contextlib.contextmanager
    def timed_lease(*a, **k):
        t0 = time.time()
        cm = orig_lease(*a, **k)
        with cm as h:
            TIMES["lease_acquire"].append(time.time() - t0)
            t1 = time.time()
            try:
                yield h
            finally:
                TIMES["lease_hold"].append(time.time() - t1)
                t2 = time.time()
        TIMES["lease_release"].append(time.time() - t2)

    fsio.writer_lease = timed_lease

    base = tempfile.mkdtemp(prefix="prof_stream_")

    def split_copy(table: str, n: int) -> str:
        p = os.path.join(base, table)
        read_parquet_table(spark, sf_dir, table).repartition(n).write.mode(
            "overwrite"
        ).parquet(p)
        return p

    def file_stream(path: str):
        return (
            spark.readStream.schema(spark.read.parquet(path).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )

    out: dict[str, dict] = {}

    def run(name: str, q) -> None:
        t0 = time.time()
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(name)
        per_batch = [
            float(p["durationMs"]["triggerExecution"]) / 1000.0
            for p in q.recentProgress
        ]
        phases = {
            k: [round(v, 3) for v in vs] for k, vs in sorted(TIMES.items())
        }
        med = {
            k: round(statistics.median(vs), 3) for k, vs in phases.items()
        }
        out[name] = {
            "wall_sec": round(time.time() - t0, 2),
            "per_batch_sec": [round(s, 3) for s in per_batch],
            "phase_median_sec": med,
            "phase_all": phases,
        }
        TIMES.clear()

    if "minhash" in which:
        docs_path = split_copy("documents", 12)
        run(
            "stream_neardup_ingest",
            sd.stream_neardup_ingest(
                file_stream(docs_path).select("doc_id", "text"),
                os.path.join(base, "nd_out"),
                os.path.join(base, "nd_idx"),
                os.path.join(base, "chk_nd"),
                trigger={"availableNow": True},
            ),
        )
    if "embed" in which:
        emb_path = split_copy("embeddings", 12)
        run(
            "stream_embed_neardup_ingest",
            sd.stream_embed_neardup_ingest(
                file_stream(emb_path).select("vec_id", "embedding"),
                os.path.join(base, "emb_out"),
                os.path.join(base, "emb_idx"),
                os.path.join(base, "chk_emb"),
                trigger={"availableNow": True},
                expected_index_rows=2_000_000,
            ),
        )

    print(json.dumps(out, indent=1))
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", "r15",
    )
    os.makedirs(out_dir, exist_ok=True)
    tag = os.environ.get("SPARK_GRAFT_STREAM_TAG", "")
    with open(
        os.path.join(out_dir, f"profile_stream_batch{tag}.json"), "w"
    ) as f:
        json.dump(out, f, indent=1)
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
