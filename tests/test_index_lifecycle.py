"""Index lifecycle: fsio metadata, append, compaction, replay
idempotency, and the stored-index plan shape the streaming ingest
guards depend on (absent in the reference — its only persistence was
JDBC appends, reference: src/spark_stream.py:107-144)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F


def _doc(i, seed, mutate=0):
    toks = [f"tok{seed}_{j}" for j in range(30)]
    for m in range(mutate):
        toks[m] = f"mut{i}_{m}"
    return (i, " ".join(toks))


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_fsio_json_roundtrip(spark, tmp_path):
    from projet_5spar_sparkstreaming_spark.fsio import (
        delete_path,
        path_exists,
        read_json,
        rename_path,
        write_json,
    )

    p = str(tmp_path / "meta" / "_meta.json")
    assert read_json(spark, p) is None
    obj = {"n": 3, "batches": {"0": 12}, "é": "ünïcode"}
    write_json(spark, p, obj)
    assert path_exists(spark, p)
    assert read_json(spark, p) == obj
    # overwrite replaces, not appends
    write_json(spark, p, {"n": 4})
    assert read_json(spark, p) == {"n": 4}
    p2 = str(tmp_path / "meta" / "_meta2.json")
    assert rename_path(spark, p, p2)
    assert not path_exists(spark, p) and path_exists(spark, p2)
    assert delete_path(spark, p2)
    assert not path_exists(spark, p2)


def test_minhash_signature_non_ascii(spark):
    """Regression: the Arrow signature kernel must survive non-ASCII
    tokens (str -> astype('S24') ASCII-encoded and raised
    UnicodeEncodeError before the binary cast) — any multilingual
    corpus hits this on the default signature path."""
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        minhash_near_dup_pairs,
        minhash_signature_arrow,
    )

    base = "l'été où ça brûle " + " ".join(f"wörd{j}é" for j in range(25))
    rows = [
        (0, base),
        (1, base.replace("wörd3é", "ändersß")),  # near-dup of 0
        (2, "日本語 の テキスト " + " ".join(f"語{j}" for j in range(25))),
        (3, "plain ascii " + " ".join(f"tok{j}" for j in range(25))),
    ]
    df = _docs_df(spark, rows)
    sigs = minhash_signature_arrow(df, "doc_id", "text").collect()
    assert len(sigs) == 4 and all(len(r["__sig"]) == 64 for r in sigs)
    # deterministic across runs
    again = minhash_signature_arrow(df, "doc_id", "text").collect()
    assert {r["__id"]: r["__sig"] for r in sigs} == {
        r["__id"]: r["__sig"] for r in again
    }
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup_pairs(
            df, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert (0, 1) in pairs and all(p == (0, 1) for p in pairs)


def test_minhash_append_query_matches_incremental(spark, tmp_path):
    """Append-grown index == one-shot incremental computation from raw
    text: build batch 0, append batches 1-2, then query — results must
    EXACTLY match minhash_incremental_pairs over the unioned corpora."""
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        minhash_incremental_pairs,
        minhash_query_index,
        read_minhash_meta,
    )

    b0 = [_doc(i, f"s{i}") for i in range(20)]
    b1 = [_doc(100 + i, f"s{20 + i}") for i in range(15)]
    b2 = [_doc(200 + i, f"s{35 + i}") for i in range(15)]
    new = [_doc(900 + i, f"s{i}", mutate=1) for i in range(8)] + [
        _doc(950 + i, f"s{22 + i}", mutate=1) for i in range(4)
    ] + [_doc(990, "fresh")]

    idx = str(tmp_path / "mh_idx")
    build_minhash_index(_docs_df(spark, b0), idx, "doc_id", "text", batch_id=0)
    append_to_minhash_index(_docs_df(spark, b1), idx, "doc_id", "text", batch_id=1)
    append_to_minhash_index(_docs_df(spark, b2), idx, "doc_id", "text", batch_id=2)

    meta = read_minhash_meta(spark, idx)
    assert meta["batches"] == {"0": 20, "1": 15, "2": 15}

    new_df = _docs_df(spark, new)
    via_index = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_query_index(
            new_df, idx, "doc_id", "text", threshold=0.5
        ).collect()
    }
    inline = {
        (r["id_a"], r["id_b"], round(r["est_jaccard"], 6))
        for r in minhash_incremental_pairs(
            new_df, _docs_df(spark, b0 + b1 + b2), "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert via_index == inline and len(via_index) >= 12

    # replay idempotency: re-appending a batch replaces, not duplicates
    append_to_minhash_index(_docs_df(spark, b2), idx, "doc_id", "text", batch_id=2)
    assert read_minhash_meta(spark, idx)["batches"]["2"] == 15
    again = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_query_index(
            new_df, idx, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert again == via_index


def test_minhash_compaction_preserves_results(spark, tmp_path):
    """Compaction merges old batch partitions (bounded file count) and
    leaves query results byte-identical; the newest keep_last batches
    keep their own ids so the streaming replay exclusion still works."""
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        minhash_query_index,
        read_minhash_meta,
    )

    idx = str(tmp_path / "mh_idx")
    build_minhash_index(
        _docs_df(spark, [_doc(i, f"s{i}") for i in range(10)]),
        idx, "doc_id", "text", batch_id=0,
    )
    for b in range(1, 5):
        append_to_minhash_index(
            _docs_df(
                spark, [_doc(100 * b + i, f"s{10 * b + i}") for i in range(10)]
            ),
            idx, "doc_id", "text", batch_id=b,
        )
    new_df = _docs_df(
        spark, [_doc(900 + i, f"s{7 * i}", mutate=1) for i in range(6)]
    )
    before = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_query_index(
            new_df, idx, "doc_id", "text", threshold=0.5
        ).collect()
    }
    files_before = len(glob.glob(f"{idx}/sigs/batch_id=*/*.parquet"))

    meta = compact_minhash_index(spark, idx, keep_last=1, target_partitions=2)
    # batches 0-3 merged under min id 0; batch 4 keeps its own id; the
    # compacted data published under the NEXT version's subtree with
    # the meta pointer flipped (readers resolve through it)
    assert set(meta["batches"]) == {"0", "4"}
    assert meta["batches"]["0"] == 40 and meta["batches"]["4"] == 10
    assert meta["version"] == 1
    dirs = sorted(glob.glob(f"{idx}/sigs_v1/batch_id=*"))
    assert [d.rsplit("=", 1)[1] for d in dirs] == ["0", "4"]
    files_after = len(glob.glob(f"{idx}/sigs_v1/batch_id=*/*.parquet"))
    assert files_after < files_before
    # the pre-compaction tree survives as the in-flight readers' grace
    # copy until the NEXT compaction begins
    assert glob.glob(f"{idx}/sigs/batch_id=*")

    after = {
        (r["id_a"], r["id_b"], r["est_jaccard"])
        for r in minhash_query_index(
            new_df, idx, "doc_id", "text", threshold=0.5
        ).collect()
    }
    assert after == before and before

    # replay exclusion vs the kept last batch still isolates exactly it
    replay = {
        r["id_b"]
        for r in minhash_query_index(
            new_df, idx, "doc_id", "text",
            threshold=0.5, max_batch_id_exclusive=4,
        ).collect()
    }
    assert all(b < 400 for b in replay)


def test_minhash_ingest_batch_replay_and_plan(spark, tmp_path):
    """The streaming guard's per-batch plan: (a) a batch whose index
    write landed but whose checkpoint commit did not must NOT match
    itself on replay (the silent-drop-everything failure); (b) the
    index side is stored-parquet scans — no raw text in any FileScan,
    no index-side re-signature (plan size invariant to batch count)."""
    import shutil
    import tempfile

    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
    )
    from projet_5spar_sparkstreaming_spark.streaming.dedup import (
        minhash_ingest_batch,
    )

    b0 = [_doc(i, f"s{i}") for i in range(10)]
    # batch 1: doc 100 near-dups index doc 0, docs 101/102 fresh
    b1 = [_doc(100, "s0", mutate=1), _doc(101, "x1"), _doc(102, "x2")]
    # short path: plan toString truncates long Location fields at ~100
    # chars, which would cut the .../bands suffix the assertions need
    base = tempfile.mkdtemp(prefix="mhp_")
    idx = f"{base}/mh_idx"
    build_minhash_index(_docs_df(spark, b0), idx, "doc_id", "text", batch_id=0)
    # simulate the crash window: batch 1 already in the index, commit lost
    append_to_minhash_index(_docs_df(spark, b1), idx, "doc_id", "text", batch_id=1)

    survivors = minhash_ingest_batch(
        _docs_df(spark, b1), idx, 1, "doc_id", "text", threshold=0.5
    )
    assert sorted(r["doc_id"] for r in survivors.collect()) == [101, 102]

    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert f"{idx}/bands" in plan or "mh_idx/bands" in plan
    assert f"{idx}/sigs" in plan or "mh_idx/sigs" in plan
    for line in plan.splitlines():
        if "FileScan parquet" in line:
            assert "text" not in line, f"index scan reads raw text: {line}"

    # plan size invariant to how many batches the index holds: the
    # stored bands are ONE scan, never per-batch re-signature stages.
    # Both plans captured UNEXECUTED (an executed AQE final plan prints
    # materialized stages differently and the counts would not compare)
    n_arrow_small = (
        minhash_ingest_batch(
            _docs_df(spark, b1), idx, 1, "doc_id", "text", threshold=0.5
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .count("MapInArrow")
    )
    for b in range(2, 5):
        append_to_minhash_index(
            _docs_df(spark, [_doc(100 * b + i, f"y{b}_{i}") for i in range(5)]),
            idx, "doc_id", "text", batch_id=b,
        )
    plan_big = (
        minhash_ingest_batch(
            _docs_df(spark, b1), idx, 5, "doc_id", "text", threshold=0.5
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan_big.count("MapInArrow") == n_arrow_small
    shutil.rmtree(base, ignore_errors=True)


def _vecs_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _vec_rows(seed, ids, base=None, mutate=0.0):
    import numpy as np

    rng = np.random.RandomState(seed)
    out = []
    for i in ids:
        v = (base if base is not None else rng.randn(64)) + mutate * rng.randn(64)
        if base is None:
            pass
        v = v / np.linalg.norm(v)
        out.append((i, [float(x) for x in v]))
    return out


def test_embed_index_append_query_compact(spark, tmp_path):
    """Embedding index: append-grown store == one-shot
    cosine_incremental_pairs at the pinned params; compaction preserves
    results; replay exclusion isolates the latest batch."""
    import numpy as np

    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_embed_lsh_index,
        build_embed_lsh_index,
        compact_embed_lsh_index,
        cosine_incremental_pairs,
        embed_lsh_query_index,
        read_embed_lsh_meta,
    )

    rng = np.random.RandomState(7)
    def mk(ids, base=None, mutate=0.0):
        rows = []
        for i in ids:
            v = (base if base is not None else rng.randn(64)) + (
                mutate * rng.randn(64)
            )
            v = v / np.linalg.norm(v)
            rows.append((i, [float(x) for x in v]))
        return rows

    b0 = mk(range(20))
    b1 = mk(range(100, 115))
    b2 = mk(range(200, 215))
    base0 = np.array(b0[0][1])
    base1 = np.array(b1[3][1])
    new = mk([900], base0, 0.01) + mk([901], base1, 0.01) + mk([902])

    idx = str(tmp_path / "emb_idx")
    meta = build_embed_lsh_index(
        _vecs_df(spark, b0), idx, "vec_id", "embedding", batch_id=0
    )
    append_to_embed_lsh_index(
        _vecs_df(spark, b1), idx, "vec_id", "embedding", batch_id=1
    )
    append_to_embed_lsh_index(
        _vecs_df(spark, b2), idx, "vec_id", "embedding", batch_id=2
    )
    assert read_embed_lsh_meta(spark, idx)["batches"] == {
        "0": 20, "1": 15, "2": 15,
    }

    new_df = _vecs_df(spark, new)
    via_index = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embed_lsh_query_index(
            new_df, idx, "vec_id", "embedding", threshold=0.95
        ).collect()
    }
    inline = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in cosine_incremental_pairs(
            new_df, _vecs_df(spark, b0 + b1 + b2), "vec_id", "embedding",
            threshold=0.95,
            n_planes=meta["n_planes"], n_tables=meta["n_tables"],
        ).collect()
    }
    assert via_index == inline
    assert {(a, b) for a, b, _ in via_index} >= {(900, 0), (901, 103)}

    compact_embed_lsh_index(spark, idx, keep_last=1, target_partitions=2)
    assert set(read_embed_lsh_meta(spark, idx)["batches"]) == {"0", "2"}
    after = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embed_lsh_query_index(
            new_df, idx, "vec_id", "embedding", threshold=0.95
        ).collect()
    }
    assert after == via_index

    # replay exclusion: with batches >= 2 excluded, batch-2 index rows
    # cannot match
    replay = {
        r["id_b"]
        for r in embed_lsh_query_index(
            new_df, idx, "vec_id", "embedding",
            threshold=0.0, max_batch_id_exclusive=2,
        ).collect()
    }
    assert replay and all(b < 200 for b in replay)


def test_embed_ingest_batch_replay_no_self_match(spark, tmp_path):
    """Crash-window replay for the embedding guard: the batch's own
    pre-written index rows are excluded, so survivors are computed
    against strictly-earlier batches only (not silently emptied)."""
    import numpy as np

    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_embed_lsh_index,
        build_embed_lsh_index,
    )
    from projet_5spar_sparkstreaming_spark.streaming.dedup import (
        embed_ingest_batch,
    )

    rng = np.random.RandomState(11)
    def unit(v):
        return [float(x) for x in v / np.linalg.norm(v)]

    base = rng.randn(64)
    b0 = [(i, unit(rng.randn(64))) for i in range(10)] + [(10, unit(base))]
    b1 = [
        (100, unit(base + 0.01 * rng.randn(64))),  # twin of index vec 10
        (101, unit(rng.randn(64))),
        (102, unit(rng.randn(64))),
    ]
    idx = str(tmp_path / "emb_idx")
    build_embed_lsh_index(_vecs_df(spark, b0), idx, "vec_id", "embedding", batch_id=0)
    append_to_embed_lsh_index(
        _vecs_df(spark, b1), idx, "vec_id", "embedding", batch_id=1
    )  # crash window: index written, checkpoint not committed

    survivors = embed_ingest_batch(
        _vecs_df(spark, b1), idx, 1, "vec_id", "embedding", threshold=0.95
    )
    assert sorted(r["vec_id"] for r in survivors.collect()) == [101, 102]


def test_ivf_index_append_query_compact(spark, sf_dir, tmp_path):
    """IVF lifecycle: append assigns new vectors with the STORED
    quantizer (queries see the union immediately), replayed appends
    replace themselves, and compaction preserves query results."""
    from projet_5spar_sparkstreaming_spark.fsio import read_json, write_json
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        brute_force_top_k_arrow,
        compact_ivf_index,
        query_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b0 = emb.filter(F.col("vec_id") % 3 != 0)
    b1 = emb.filter((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 == 0))
    b2 = emb.filter((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 2 == 1))
    queries = emb.filter(F.col("vec_id") < 10)

    idx = str(tmp_path / "ivf_idx")
    build_ivf_index(b0, idx, "vec_id", "embedding", n_centroids=16)
    append_to_ivf_index(b1, idx, "vec_id", "embedding", batch_id=1)
    append_to_ivf_index(b2, idx, "vec_id", "embedding", batch_id=2)
    meta = read_json(spark, idx + "/_centroids.json")
    assert set(meta["batches"]) == {"0", "1", "2"}
    assert sum(meta["batches"].values()) == emb.count()
    # the build records the data subtree's schema like the other families
    assert set(meta["schemas"]) == {"data"}

    def _res(k=5, n_probe=6, route="ivf"):
        return {
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in query_ivf_index(
                spark, queries, idx, "vec_id", "embedding", k=k,
                n_probe=n_probe, route=route,
            ).collect()
        }

    after_append = _res()
    assert after_append
    brute = _res(route="brute")
    # a meta written before schemas were recorded: both reads (brute and
    # per-cell probe) infer the schema and return identical results
    write_json(
        spark, idx + "/_centroids.json",
        {k: v for k, v in meta.items() if k != "schemas"},
    )
    assert _res() == after_append
    assert _res(route="brute") == brute
    write_json(spark, idx + "/_centroids.json", meta)
    # appended vectors are genuinely searchable: recall vs brute force
    # over the FULL corpus (probing generously to isolate append
    # correctness from quantizer coarseness)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_top_k_arrow(
            queries, emb, "vec_id", "vec_id", k=5
        ).collect()
    }
    got = {(q, n) for q, n, _, _ in _res(k=5, n_probe=12)}
    assert len(exact & got) / len(exact) >= 0.9

    # replay idempotency: re-appending batch 2 replaces it
    append_to_ivf_index(b2, idx, "vec_id", "embedding", batch_id=2)
    assert _res() == after_append
    assert read_json(spark, idx + "/_centroids.json")["batches"] == meta["batches"]

    # compaction: batches 0-1 merge under id 0, batch 2 keeps its id;
    # results identical, quantizer intact
    meta2 = compact_ivf_index(spark, idx, keep_last=1, target_partitions=2)
    assert set(meta2["batches"]) == {"0", "2"}
    assert _res() == after_append


def test_stored_query_paths_broadcast_probe_side(spark, sf_dir, tmp_path):
    """Plan pin for the stored-index query direction: the probe-derived
    sides are broadcast, so the stored index is NEVER sort-merge-joined
    (which would shuffle and sort the whole store per query — measured
    2.3x slower than recompute before the r9 fix). Also pins the
    opt-out: broadcast_new=False must drop the broadcast hints (the
    escape hatch for probe batches too large to broadcast)."""
    from tools.explain_audit import formatted_plan

    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        build_minhash_index,
        minhash_query_index,
    )
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        build_embed_lsh_index,
        embed_lsh_query_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    midx = str(tmp_path / "mh_bcast")
    eidx = str(tmp_path / "el_bcast")
    build_minhash_index(docs, midx, "doc_id", "text")
    build_embed_lsh_index(
        emb, eidx, "vec_id", "embedding", n_planes=6, n_tables=3,
    )

    mq = minhash_query_index(docs.limit(50), midx, "doc_id", "text")
    # small_store_rows=0: pin the LARGE-store verify plan (the small
    # test store would otherwise route to the unforced verify joins —
    # covered by test_embed_stored_query_small_store_routing below)
    eq = embed_lsh_query_index(
        emb.limit(50), eidx, "vec_id", "embedding", small_store_rows=0
    )
    for plan in (formatted_plan(mq), formatted_plan(eq)):
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan
    # results must be identical either way (broadcast is plan-only)
    off = minhash_query_index(
        docs.limit(50), midx, "doc_id", "text", broadcast_new=False
    )
    assert sorted(map(tuple, mq.collect())) == sorted(map(tuple, off.collect()))


def test_embed_stored_query_small_store_routing(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r9 verdict task 2: at a small store the forced
    broadcast-the-candidates verify plan pays two serial driver
    round-trips that invert stored-vs-recompute (2.9 s vs 1.5 s at the
    2k-vector bench store), so embed_lsh_query_index routes the verify
    stage by the store's meta row count: small store -> planner-chosen
    verify joins; large store (forced here via small_store_rows=0) ->
    the pinned broadcast plan. Results identical on both routes; the
    candidate-stage probe broadcast survives routing."""
    from tools.explain_audit import formatted_plan

    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        build_embed_lsh_index,
        embed_lsh_query_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eidx = str(tmp_path / "el_route")
    build_embed_lsh_index(
        emb, eidx, "vec_id", "embedding", n_planes=6, n_tables=3
    )
    probe = emb.limit(50)
    # spy on the forced-broadcast HINT applications (plan-text counts
    # can't distinguish: at a tiny store the static planner broadcasts
    # the parquet sides by stats either way)
    import projet_5spar_sparkstreaming_spark.operators.similarity as S

    calls = {"n": 0}
    real_bc = S.F.broadcast

    def counting(df):
        calls["n"] += 1
        return real_bc(df)

    monkeypatch.setattr(S.F, "broadcast", counting)
    routed = embed_lsh_query_index(probe, eidx, "vec_id", "embedding")
    n_routed = calls["n"]
    calls["n"] = 0
    forced = embed_lsh_query_index(
        probe, eidx, "vec_id", "embedding", small_store_rows=0
    )
    n_forced = calls["n"]
    # routed: ONLY the candidate-stage probe-bucket broadcast; forced:
    # plus cand + probe-vector broadcasts in the verify stage
    assert n_routed == 1 and n_forced == 3, (n_routed, n_forced)
    # the candidate stage still broadcasts the probe buckets
    assert "BroadcastHashJoin" in formatted_plan(routed)
    assert sorted(map(tuple, routed.collect())) == sorted(
        map(tuple, forced.collect())
    )


def test_writer_lease_mutual_exclusion_and_stale_break(spark, tmp_path):
    """The cross-process writer lease: a held lease blocks a second
    acquisition until released (TimeoutError on a short deadline), a
    crashed holder's lock older than stale_sec is broken, and release
    makes the lease immediately available."""
    import os
    import time

    from projet_5spar_sparkstreaming_spark.fsio import writer_lease

    idx = str(tmp_path / "leased_idx")
    lock_file = idx + ".writer.lock"
    with writer_lease(spark, idx):
        assert os.path.exists(lock_file)
        with pytest.raises(TimeoutError):
            with writer_lease(spark, idx, timeout_sec=1.0, poll_sec=0.1):
                pass
    assert not os.path.exists(lock_file)  # released
    with writer_lease(spark, idx, timeout_sec=1.0):
        pass
    # stale break: a lock from a presumed-crashed holder (old mtime)
    with open(lock_file, "w") as f:
        f.write("{}")
    old = time.time() - 3600
    os.utime(lock_file, (old, old))
    with writer_lease(spark, idx, timeout_sec=5.0, stale_sec=60.0):
        pass
    assert not os.path.exists(lock_file)


def _noop_lease(*args, **kwargs):
    """Stand-in lease for the double-admission simulations: admits
    every caller AND disables the r12 commit fence (validate no-op) —
    the staged scenarios below pin the WORST-CASE floor (no data loss,
    replay converges) that held before fencing existed; with the real
    lease, a displaced/double-admitted loser now aborts at its commit
    instead (test_lease_fence_aborts_displaced_holder,
    test_append_aborts_never_clobbers_when_lease_displaced)."""
    import contextlib

    class _Handle:
        def validate(self):
            pass

        @contextlib.contextmanager
        def guard_data_writes(self):
            # fence disabled: pass failures through unclassified (r15)
            yield

    @contextlib.contextmanager
    def cm():
        yield _Handle()

    return cm()


def _drift_scenario(spark, monkeypatch, compact, sneak_append, read_meta, idx):
    """Shared drift-guard harness: bypass the lease (simulating a
    stale-lease break), slip ``sneak_append`` in between the
    compactor's meta snapshot and its version flip, and assert the
    flip ABORTS with the appended batch fully intact."""
    import projet_5spar_sparkstreaming_spark.fsio as fsio

    monkeypatch.setattr(fsio, "writer_lease", _noop_lease)
    real_clean = fsio.clean_versions_except
    state = {"fired": False}

    def sneaky(spark_, index_path_, sub, keep):
        # interleave the append between the compactor's meta snapshot
        # and its version flip — exactly the window the drift guard
        # exists for (clean_versions_except is the first thing every
        # compactor does after snapshotting)
        real_clean(spark_, index_path_, sub, keep)
        if not state["fired"]:
            state["fired"] = True
            sneak_append()  # lands batch 9 + its meta entry

    monkeypatch.setattr(fsio, "clean_versions_except", sneaky)
    with pytest.raises(RuntimeError, match="drift"):
        compact()
    monkeypatch.setattr(fsio, "clean_versions_except", real_clean)
    meta = read_meta()
    assert set(meta["batches"]) == {"0", "1", "2", "9"}, "append was lost"
    assert int(meta.get("version", 0)) == 0, "flip must have aborted"
    # recovery: a clean re-run compacts WITH the slipped batch included
    meta2 = compact()
    assert set(meta2["batches"]) == {"0", "9"}
    assert meta2["version"] == 1


def test_minhash_compaction_drift_guard(spark, monkeypatch, tmp_path):
    from projet_5spar_sparkstreaming_spark.fsio import read_json
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        minhash_query_index,
    )

    idx = str(tmp_path / "mh_drift")
    build_minhash_index(_docs_df(spark, [_doc(0, 0)]), idx, "doc_id", "text")
    for b in (1, 2):
        append_to_minhash_index(
            _docs_df(spark, [_doc(b, b)]), idx, "doc_id", "text", batch_id=b
        )
    _drift_scenario(
        spark,
        monkeypatch,
        lambda: compact_minhash_index(spark, idx, keep_last=1),
        lambda: append_to_minhash_index(
            _docs_df(spark, [_doc(9, 9)]), idx, "doc_id", "text", batch_id=9
        ),
        lambda: read_json(spark, idx + "/_meta.json"),
        idx,
    )
    # the slipped batch is genuinely queryable after recovery
    hits = minhash_query_index(
        _docs_df(spark, [_doc(99, 9)]), idx, "doc_id", "text", threshold=0.5
    )
    assert {r["id_b"] for r in hits.collect()} == {9}


def test_embed_lsh_compaction_drift_guard(spark, monkeypatch, tmp_path):
    import numpy as np

    from projet_5spar_sparkstreaming_spark.fsio import read_json
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_embed_lsh_index,
        build_embed_lsh_index,
        compact_embed_lsh_index,
    )

    rng = np.random.default_rng(7)

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.standard_normal(8)]) for i in ids],
            "vec_id long, embedding array<double>",
        )

    idx = str(tmp_path / "el_drift")
    build_embed_lsh_index(
        vecs([0]), idx, "vec_id", "embedding", n_planes=4, n_tables=2, dim=8
    )
    for b in (1, 2):
        append_to_embed_lsh_index(
            vecs([b]), idx, "vec_id", "embedding", batch_id=b
        )
    _drift_scenario(
        spark,
        monkeypatch,
        lambda: compact_embed_lsh_index(spark, idx, keep_last=1),
        lambda: append_to_embed_lsh_index(
            vecs([9]), idx, "vec_id", "embedding", batch_id=9
        ),
        lambda: read_json(spark, idx + "/_meta.json"),
        idx,
    )


def test_ivf_compaction_drift_guard(spark, monkeypatch, tmp_path):
    import numpy as np

    from projet_5spar_sparkstreaming_spark.fsio import read_json
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
    )

    rng = np.random.default_rng(11)

    def vecs(ids):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.standard_normal(8)]) for i in ids],
            "vec_id long, embedding array<double>",
        )

    idx = str(tmp_path / "ivf_drift")
    build_ivf_index(
        vecs(range(20)), idx, "vec_id", "embedding", n_centroids=2
    )
    for b in (1, 2):
        append_to_ivf_index(
            vecs([100 + b]), idx, "vec_id", "embedding", batch_id=b
        )
    _drift_scenario(
        spark,
        monkeypatch,
        lambda: compact_ivf_index(spark, idx, keep_last=1),
        lambda: append_to_ivf_index(
            vecs([999]), idx, "vec_id", "embedding", batch_id=9
        ),
        lambda: read_json(spark, idx + "/_centroids.json"),
        idx,
    )


def test_ivf_legacy_root_layout_still_works(spark, sf_dir, tmp_path):
    """Backward compat (r8 advice): an IVF index persisted by the
    pre-versioning code kept its cell=*/batch_id=* hive dirs at the
    index ROOT (no 'version' in meta, no data/ subtree). Query and
    append must resolve version 0 to the root instead of failing on a
    missing {index}/data; compaction migrates the data into the
    versioned data_v1 subtree and retires the root dirs."""
    import os
    import shutil

    from projet_5spar_sparkstreaming_spark.fsio import read_json, write_json
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        query_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b0 = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 10)

    idx = str(tmp_path / "ivf_legacy")
    build_ivf_index(b0, idx, "vec_id", "embedding", n_centroids=8)

    def _res():
        return {
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in query_ivf_index(
                spark, queries, idx, "vec_id", "embedding", k=5, n_probe=8,
                route="ivf",
            ).collect()
        }

    fresh = _res()
    # rewrite the on-disk layout to the LEGACY shape: cell dirs at the
    # root, no data/ subtree, meta without 'version'
    data = os.path.join(idx, "data")
    for name in os.listdir(data):
        if name.startswith("cell="):
            shutil.move(os.path.join(data, name), os.path.join(idx, name))
    shutil.rmtree(data)
    meta = read_json(spark, idx + "/_centroids.json")
    del meta["version"]
    write_json(spark, idx + "/_centroids.json", meta)

    assert _res() == fresh  # query resolves to the root
    append_to_ivf_index(b1, idx, "vec_id", "embedding", batch_id=1)
    with_b1 = _res()
    assert with_b1 != fresh or b1.count() == 0
    # compaction migrates root -> data_v1 and retires the root dirs
    meta2 = compact_ivf_index(spark, idx, keep_last=0, target_partitions=2)
    assert meta2["version"] == 1
    assert os.path.isdir(os.path.join(idx, "data_v1"))
    assert not any(n.startswith("cell=") for n in os.listdir(idx))
    assert _res() == with_b1


def test_write_json_cleans_stale_old_when_live_absent(spark, tmp_path):
    """Regression (r7 advice): a crash between rename(live, .old) and
    rename(.tmp, live) leaves .old present and live absent; the NEXT
    write must still clear the stale .old (the old guard only cleaned
    under `if exists(live)`, so the stale aside — older than the new
    content — survived forever and could mislead manual recovery)."""
    from projet_5spar_sparkstreaming_spark.fsio import (
        path_exists,
        read_json,
        rename_path,
        write_json,
    )

    p = str(tmp_path / "m" / "_meta.json")
    write_json(spark, p, {"v": 1})
    # simulate the crash window: live moved aside, new copy never landed
    assert rename_path(spark, p, p + ".old")
    assert not path_exists(spark, p) and path_exists(spark, p + ".old")
    write_json(spark, p, {"v": 2})
    assert read_json(spark, p) == {"v": 2}
    assert not path_exists(spark, p + ".old"), "stale .old left behind"


def test_minhash_ingest_batch_param_conflict_raises(spark, tmp_path):
    """Regression (r7 advice): explicit n/num_hashes/bands that
    contradict the index's pinned meta must raise, not be silently
    overridden — a caller-built precomputed_sig in the wrong hash
    space would otherwise band into wrong buckets with no error."""
    import pytest as _pytest

    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        build_minhash_index,
    )
    from projet_5spar_sparkstreaming_spark.streaming.dedup import (
        minhash_ingest_batch,
    )

    idx = str(tmp_path / "mh_idx")
    docs = _docs_df(spark, [_doc(i, f"s{i}") for i in range(5)])
    build_minhash_index(docs, idx, "doc_id", "text", num_hashes=64, batch_id=0)
    with _pytest.raises(ValueError, match="num_hashes=32 conflicts"):
        minhash_ingest_batch(
            docs, idx, 1, "doc_id", "text", threshold=0.5, num_hashes=32
        )
    # None (follow-the-index) and the matching explicit value both pass;
    # replayed as its OWN batch_id, the batch must not match itself
    ok = minhash_ingest_batch(
        docs, idx, 0, "doc_id", "text", threshold=0.5, num_hashes=64
    )
    assert ok.count() == 5


def test_minhash_compaction_reader_safe(spark, tmp_path):
    """Reader-safety of versioned compaction: a query whose scan paths
    were resolved from the PRE-compaction meta still executes correctly
    AFTER the compaction flips the version pointer (the old subtree is
    retained as a grace copy), and a fresh post-flip query reads the
    new subtree — neither ever sees an absent directory. A second
    compaction retires the grace copy."""
    import glob as _glob

    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        minhash_query_index,
        read_minhash_meta,
    )

    idx = str(tmp_path / "mh_idx")
    build_minhash_index(
        _docs_df(spark, [_doc(i, f"s{i}") for i in range(10)]),
        idx, "doc_id", "text", batch_id=0,
    )
    for b in (1, 2):
        append_to_minhash_index(
            _docs_df(spark, [_doc(100 * b + i, f"s{10 * b + i}") for i in range(10)]),
            idx, "doc_id", "text", batch_id=b,
        )
    new_df = _docs_df(spark, [_doc(900 + i, f"s{5 * i}", mutate=1) for i in range(5)])

    def res(df):
        return {(r["id_a"], r["id_b"], r["est_jaccard"]) for r in df.collect()}

    # plan the reader BEFORE compaction: its parquet scans resolve the
    # version-0 paths now
    q_old = minhash_query_index(new_df, idx, "doc_id", "text", threshold=0.5)
    before = res(minhash_query_index(new_df, idx, "doc_id", "text", threshold=0.5))
    assert before

    compact_minhash_index(spark, idx, keep_last=1, target_partitions=2)
    assert read_minhash_meta(spark, idx)["version"] == 1
    # in-flight reader (old meta, old paths): identical results
    assert res(q_old) == before
    # fresh reader (new meta, new paths): identical results
    assert res(
        minhash_query_index(new_df, idx, "doc_id", "text", threshold=0.5)
    ) == before

    # second compaction retires the v0 grace copy and grants v1 grace
    append_to_minhash_index(
        _docs_df(spark, [_doc(300 + i, f"s{30 + i}") for i in range(10)]),
        idx, "doc_id", "text", batch_id=3,
    )
    compact_minhash_index(spark, idx, keep_last=1, target_partitions=2)
    assert read_minhash_meta(spark, idx)["version"] == 2
    assert not _glob.glob(f"{idx}/sigs/batch_id=*"), "v0 not retired"
    assert _glob.glob(f"{idx}/sigs_v1/batch_id=*"), "v1 grace missing"
    assert _glob.glob(f"{idx}/sigs_v2/batch_id=*")
    assert res(
        minhash_query_index(new_df, idx, "doc_id", "text", threshold=0.5)
    ) == before


def test_embed_and_ivf_compaction_reader_safe(spark, sf_dir, tmp_path):
    """Same reader-across-the-flip guarantee for the embedding LSH and
    IVF stores: pre-compaction-planned queries and post-flip queries
    both return the pre-compaction results."""
    import numpy as np

    from projet_5spar_sparkstreaming_spark.fsio import read_json
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_embed_lsh_index,
        append_to_ivf_index,
        build_embed_lsh_index,
        build_ivf_index,
        compact_embed_lsh_index,
        compact_ivf_index,
        embed_lsh_query_index,
        query_ivf_index,
        read_embed_lsh_meta,
    )

    rng = np.random.RandomState(3)

    def unit(v):
        return [float(x) for x in v / np.linalg.norm(v)]

    base = rng.randn(64)
    b0 = [(i, unit(rng.randn(64))) for i in range(15)] + [(15, unit(base))]
    b1 = [(100 + i, unit(rng.randn(64))) for i in range(10)]
    b2 = [(200 + i, unit(rng.randn(64))) for i in range(10)]
    probe = _vecs_df(spark, [(900, unit(base + 0.01 * rng.randn(64)))])

    eidx = str(tmp_path / "emb_idx")
    build_embed_lsh_index(_vecs_df(spark, b0), eidx, "vec_id", "embedding", batch_id=0)
    append_to_embed_lsh_index(_vecs_df(spark, b1), eidx, "vec_id", "embedding", batch_id=1)
    append_to_embed_lsh_index(_vecs_df(spark, b2), eidx, "vec_id", "embedding", batch_id=2)

    def eres(df):
        return {(r["id_a"], r["id_b"], r["cosine"]) for r in df.collect()}

    q_old = embed_lsh_query_index(probe, eidx, "vec_id", "embedding", threshold=0.9)
    before = eres(embed_lsh_query_index(probe, eidx, "vec_id", "embedding", threshold=0.9))
    assert (900, 15) in {(a, b) for a, b, _ in before}
    compact_embed_lsh_index(spark, eidx, keep_last=1, target_partitions=2)
    assert read_embed_lsh_meta(spark, eidx)["version"] == 1
    assert eres(q_old) == before
    assert eres(
        embed_lsh_query_index(probe, eidx, "vec_id", "embedding", threshold=0.9)
    ) == before

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    iidx = str(tmp_path / "ivf_idx")
    build_ivf_index(emb.filter(F.col("vec_id") % 2 == 0), iidx, "vec_id", "embedding", n_centroids=16)
    append_to_ivf_index(emb.filter(F.col("vec_id") % 2 == 1), iidx, "vec_id", "embedding", batch_id=1)
    append_to_ivf_index(emb.filter(F.col("vec_id") % 7 == 3), iidx, "vec_id", "embedding", batch_id=2)

    def ires(df):
        return {
            (r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in df.collect()
        }

    iq_old = query_ivf_index(spark, queries, iidx, "vec_id", "embedding", k=5, n_probe=6, route="ivf")
    ibefore = ires(query_ivf_index(spark, queries, iidx, "vec_id", "embedding", k=5, n_probe=6, route="ivf"))
    assert ibefore
    compact_ivf_index(spark, iidx, keep_last=1, target_partitions=2)
    assert read_json(spark, iidx + "/_centroids.json")["version"] == 1
    assert ires(iq_old) == ibefore
    assert ires(
        query_ivf_index(spark, queries, iidx, "vec_id", "embedding", k=5, n_probe=6, route="ivf")
    ) == ibefore


def _row_counting_df(spark, rows, schema, acc):
    """A DataFrame over ``rows`` that increments ``acc`` by one per row
    per EXECUTION — counts how many times downstream actions actually
    re-run the input plan (local mode: no task retries to inflate it)."""
    def _count(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    return spark.createDataFrame(rows, schema).mapInPandas(_count, schema)


def test_index_appends_execute_input_once(spark, tmp_path):
    """The r6->r8 advice item: index appends must not re-execute the
    uncached batch plan for their row-count bookkeeping (it runs on
    every streaming micro-batch). The count now rides the write as an
    observe metric: IVF appends execute the input exactly once; embed
    appends exactly twice (bucket pass + vecs copy — two writes, no
    third count scan); minhash appends once (cached signature). Meta
    row counts stay correct."""
    import numpy as np

    from projet_5spar_sparkstreaming_spark.fsio import read_json
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        read_minhash_meta,
    )
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_embed_lsh_index,
        append_to_ivf_index,
        build_embed_lsh_index,
        build_ivf_index,
        read_embed_lsh_meta,
    )

    rng = np.random.RandomState(5)
    vec_rows = [
        (i, [float(x) for x in rng.randn(64)]) for i in range(40)
    ]
    vschema = "vec_id long, embedding array<double>"

    iidx = str(tmp_path / "ivf_idx")
    build_ivf_index(_vecs_df(spark, vec_rows), iidx, "vec_id", "embedding", n_centroids=16)
    acc = spark.sparkContext.accumulator(0)
    batch = _row_counting_df(
        spark, [(100 + i, [float(x) for x in rng.randn(64)]) for i in range(20)],
        vschema, acc,
    )
    n = append_to_ivf_index(batch, iidx, "vec_id", "embedding", batch_id=1)
    assert n == 20
    assert read_json(spark, iidx + "/_centroids.json")["batches"]["1"] == 20
    assert acc.value == 20, f"IVF append executed input {acc.value/20:.1f}x"

    eidx = str(tmp_path / "emb_idx")
    build_embed_lsh_index(_vecs_df(spark, vec_rows), eidx, "vec_id", "embedding", batch_id=0)
    acc2 = spark.sparkContext.accumulator(0)
    batch2 = _row_counting_df(
        spark, [(200 + i, [float(x) for x in rng.randn(64)]) for i in range(20)],
        vschema, acc2,
    )
    n2 = append_to_embed_lsh_index(batch2, eidx, "vec_id", "embedding", batch_id=1)
    assert n2 == 20 and read_embed_lsh_meta(spark, eidx)["batches"]["1"] == 20
    assert acc2.value == 40, f"embed append executed input {acc2.value/20:.1f}x (want 2x)"

    midx = str(tmp_path / "mh_idx")
    build_minhash_index(
        _docs_df(spark, [_doc(i, f"s{i}") for i in range(10)]),
        midx, "doc_id", "text", batch_id=0,
    )
    acc3 = spark.sparkContext.accumulator(0)
    batch3 = _row_counting_df(
        spark, [_doc(100 + i, f"t{i}") for i in range(8)],
        "doc_id long, text string", acc3,
    )
    n3 = append_to_minhash_index(batch3, midx, "doc_id", "text", batch_id=1)
    assert n3 == 8 and read_minhash_meta(spark, midx)["batches"]["1"] == 8
    assert acc3.value == 8, f"minhash append executed input {acc3.value/8:.1f}x"


def test_ingest_guard_refuses_rebuild_when_meta_missing(spark, tmp_path):
    """Index data present + meta read None (mid-swap instant or crashed
    build) must raise a retryable error, NOT fall into the fresh-build
    path — build_minhash_index starts with a recursive delete, so a
    silent rebuild would destroy the accumulated store."""
    import pytest as _pytest

    from projet_5spar_sparkstreaming_spark.fsio import delete_path, path_exists
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        build_minhash_index,
        read_minhash_meta,
    )
    from projet_5spar_sparkstreaming_spark.streaming.dedup import (
        require_index_meta_consistent,
    )

    idx = str(tmp_path / "mh_idx")
    build_minhash_index(
        _docs_df(spark, [_doc(i, f"s{i}") for i in range(5)]),
        idx, "doc_id", "text", batch_id=0,
    )
    delete_path(spark, idx + "/_meta.json")
    meta = read_minhash_meta(spark, idx)
    assert meta is None and path_exists(spark, idx + "/sigs")
    with _pytest.raises(IOError, match="Refusing to rebuild"):
        require_index_meta_consistent(spark, idx, meta)
    # the non-index states stay permissive: no dir at all -> fresh
    # build is correct; meta present -> append path
    require_index_meta_consistent(spark, str(tmp_path / "absent"), None)
    require_index_meta_consistent(spark, idx, {"n": 3})


def test_embed_lsh_meta_persists_recall_sizing(spark, tmp_path):
    """r12 advice: the recall sizing the LSH params were derived under
    must ride in the meta — needs_embed_lsh_rebuild and
    rebuild_embed_lsh_index re-derive auto_lsh_params, and without the
    persisted values a build at a stricter recall gets judged (and on
    rebuild silently re-sized) at the 0.99/0.95 defaults."""
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        auto_lsh_params,
        build_embed_lsh_index,
        read_embed_lsh_meta,
        rebuild_embed_lsh_index,
    )

    idx = str(tmp_path / "el_recall")
    meta = build_embed_lsh_index(
        _vecs_df(spark, _vec_rows(11, range(40))), idx, "vec_id", "embedding",
        recall_at=0.995, target_recall=0.97, expected_rows=2_000,
        batch_id=0,
    )
    assert (meta["recall_at"], meta["target_recall"]) == (0.995, 0.97)
    assert read_embed_lsh_meta(spark, idx)["recall_at"] == 0.995
    # rebuild with no recall args re-derives under the BUILD's sizing
    rebuilt = rebuild_embed_lsh_index(spark, idx)
    exp_p, exp_t = auto_lsh_params(
        40, dim=64, recall_at=0.995, target_recall=0.97
    )
    assert (rebuilt["n_planes"], rebuilt["n_tables"]) == (exp_p, exp_t)
    assert (rebuilt["recall_at"], rebuilt["target_recall"]) == (0.995, 0.97)


def test_ivf_compaction_backfills_legacy_sized_for(spark, tmp_path):
    """A pre-r12 meta has no sized_for_rows, and after a compaction the
    min-batch count is a merged SUM — the old fallback inferred an
    inflated sizing and suppressed the rebuild trigger (r12 advice).
    needs_ivf_rebuild now declines on legacy metas, and compaction
    backfills the field by inverting auto_ivf_centroids at the stored
    cell count — CLAMPED to the store's compaction-time total (r13
    ADVICE): a legacy index built with an explicit n_centroids (or at
    the 4096 cap, where the inversion yields ~268M rows) must not have
    its rebuild trigger suppressed indefinitely by a denominator far
    above any corpus the quantizer ever saw."""
    from projet_5spar_sparkstreaming_spark.fsio import read_json, write_json
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        needs_ivf_rebuild,
    )

    idx = str(tmp_path / "ivf_legacy")
    build_ivf_index(
        _vecs_df(spark, _vec_rows(7, range(20))), idx, "vec_id", "embedding",
        n_centroids=2, batch_id=0,
    )
    for b in (1, 2, 3):
        append_to_ivf_index(
            _vecs_df(spark, _vec_rows(7 + b, range(20 * b, 20 * b + 10))),
            idx, "vec_id", "embedding", batch_id=b,
        )
    meta_path = idx + "/_centroids.json"
    meta = read_json(spark, meta_path)
    del meta["sized_for_rows"]  # simulate a pre-r12 meta
    write_json(spark, meta_path, meta)
    assert not needs_ivf_rebuild(read_json(spark, meta_path))  # declines
    compacted = compact_ivf_index(spark, idx, keep_last=1)
    n_cells = len(compacted["centroids"])
    total = sum(compacted["batches"].values())  # 50 rows stored
    # the inversion at 2 cells says 64; the store only holds 50 — the
    # clamp takes the smaller, so the trigger re-arms on real growth
    expect = max(1, min((4 * n_cells) ** 2, total))
    assert compacted["sized_for_rows"] == expect
    assert read_json(spark, meta_path)["sized_for_rows"] == expect

    # the ADVICE case proper: EXPLICIT cell count far above the corpus
    # (the 4096-cap shape in miniature) — uninverted the backfill would
    # be (4*8)^2 = 1024 and 4x growth would need 4096 rows; clamped, it
    # is the 30-row store, and the predicate re-arms at 120
    idx2 = str(tmp_path / "ivf_legacy_capped")
    build_ivf_index(
        _vecs_df(spark, _vec_rows(17, range(20))), idx2, "vec_id",
        "embedding", n_centroids=8, batch_id=0,
    )
    for b in (1, 2):
        append_to_ivf_index(
            _vecs_df(spark, _vec_rows(17 + b, range(100 * b, 100 * b + 5))),
            idx2, "vec_id", "embedding", batch_id=b,
        )
    meta_path2 = idx2 + "/_centroids.json"
    meta2 = read_json(spark, meta_path2)
    del meta2["sized_for_rows"]
    write_json(spark, meta_path2, meta2)
    compacted2 = compact_ivf_index(spark, idx2, keep_last=1)
    total2 = sum(compacted2["batches"].values())  # 30 << (4*8)^2 = 1024
    assert compacted2["sized_for_rows"] == total2
    assert needs_ivf_rebuild(
        {**compacted2, "batches": {"0": 4 * total2}}
    ), "clamped backfill must re-arm the trigger at plausible growth"


def test_mutations_shed_stale_build_marker(spark, tmp_path):
    """A build that crashes BETWEEN its meta write and its
    clear_build_marker leaves the '{index}.building' marker up forever
    over a fully committed index (r12 advice). If it lingered, a later
    transient data-present/meta-None read would be silently honored as
    'crashed build, safe to rebuild' and the rebuild's recursive delete
    would eat the accumulated store. The first lease-holding mutation
    that observes a committed meta must shed the marker — for all three
    index families."""
    from projet_5spar_sparkstreaming_spark.fsio import (
        build_marker_present,
        set_build_marker,
    )
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
    )
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_embed_lsh_index,
        append_to_ivf_index,
        build_embed_lsh_index,
        build_ivf_index,
    )

    # minhash: append sheds it
    mh = str(tmp_path / "mh_idx")
    build_minhash_index(
        _docs_df(spark, [_doc(i, f"s{i}") for i in range(5)]),
        mh, "doc_id", "text", batch_id=0,
    )
    set_build_marker(spark, mh)  # simulate crash post-meta, pre-clear
    append_to_minhash_index(
        _docs_df(spark, [_doc(i, f"t{i}") for i in range(5, 8)]),
        mh, "doc_id", "text", batch_id=1,
    )
    assert not build_marker_present(spark, mh)

    # minhash: compaction sheds it too
    append_to_minhash_index(
        _docs_df(spark, [_doc(i, f"u{i}") for i in range(8, 11)]),
        mh, "doc_id", "text", batch_id=2,
    )
    set_build_marker(spark, mh)
    compact_minhash_index(spark, mh, keep_last=1)
    assert not build_marker_present(spark, mh)

    # embed-LSH: append sheds it
    el = str(tmp_path / "el_idx")
    build_embed_lsh_index(
        _vecs_df(spark, _vec_rows(1, range(6))), el, "vec_id", "embedding",
        batch_id=0,
    )
    set_build_marker(spark, el)
    append_to_embed_lsh_index(
        _vecs_df(spark, _vec_rows(2, range(6, 9))), el, "vec_id", "embedding",
        batch_id=1,
    )
    assert not build_marker_present(spark, el)

    # IVF: append sheds it
    iv = str(tmp_path / "iv_idx")
    build_ivf_index(
        _vecs_df(spark, _vec_rows(3, range(12))), iv, "vec_id", "embedding",
        n_centroids=2, batch_id=0,
    )
    set_build_marker(spark, iv)
    append_to_ivf_index(
        _vecs_df(spark, _vec_rows(4, range(12, 15))), iv, "vec_id",
        "embedding", batch_id=1,
    )
    assert not build_marker_present(spark, iv)


def test_writer_lease_holder_write_failure_releases_lock(spark, tmp_path):
    """ADVICE r9: if fs.create(lock, false) succeeds but writing the
    holder JSON faults (disk full, stream fault), the lock must NOT be
    orphaned — a swallowed failure here would block every other writer
    for stale_sec (30 min default). The fault must propagate AND the
    lock must be gone, so the next acquisition is immediate."""
    import os

    import projet_5spar_sparkstreaming_spark.fsio as fsio

    idx = str(tmp_path / "faulty_holder_idx")
    lock_file = idx + ".writer.lock"

    class _BoomOS:
        @staticmethod
        def getpid():
            raise OSError("simulated holder-write fault")

    real_os = fsio._os
    fsio._os = _BoomOS
    try:
        with pytest.raises(OSError, match="simulated holder-write"):
            with fsio.writer_lease(spark, idx, timeout_sec=2.0):
                pass
    finally:
        fsio._os = real_os
    assert not os.path.exists(lock_file), "faulted acquire orphaned the lock"
    # and the lease is immediately available, no stale_sec wait
    with fsio.writer_lease(spark, idx, timeout_sec=1.0):
        assert os.path.exists(lock_file)


def test_writer_lease_break_tombstone_is_harmless(spark, tmp_path):
    """The atomic stale break renames the lock to a per-breaker
    tombstone before deleting it; a breaker crashing between rename and
    delete leaves the tombstone behind. It must never block or be
    mistaken for the lock."""
    import os
    import time

    from projet_5spar_sparkstreaming_spark.fsio import writer_lease

    idx = str(tmp_path / "tomb_idx")
    lock_file = idx + ".writer.lock"
    # crashed breaker's leftover tombstone
    with open(lock_file + ".break.999.deadbeef", "w") as f:
        f.write("{}")
    # plus a stale lock from a crashed holder
    with open(lock_file, "w") as f:
        f.write("{}")
    old = time.time() - 3600
    os.utime(lock_file, (old, old))
    with writer_lease(spark, idx, timeout_sec=5.0, stale_sec=60.0):
        assert os.path.exists(lock_file)
    assert not os.path.exists(lock_file)


def test_compaction_drift_guard_detects_replayed_batch(
    spark, monkeypatch, tmp_path
):
    """ADVICE r9: a lease-bypassing writer that REPLAYS an existing
    batch_id between the compactor's snapshot and its flip leaves the
    batch-id KEY SET unchanged — only the row count moves. The
    full-dict snapshot compare must still trip the guard, or the flip
    publishes a tree derived from the pre-replay data."""
    import projet_5spar_sparkstreaming_spark.fsio as fsio
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        minhash_query_index,
    )

    idx = str(tmp_path / "mh_replay_drift")
    build_minhash_index(_docs_df(spark, [_doc(0, 0)]), idx, "doc_id", "text")
    for b in (1, 2):
        append_to_minhash_index(
            _docs_df(spark, [_doc(b, b)]), idx, "doc_id", "text", batch_id=b
        )
    monkeypatch.setattr(fsio, "writer_lease", _noop_lease)
    real_clean = fsio.clean_versions_except
    state = {"fired": False}

    def sneaky(spark_, index_path_, sub, keep):
        real_clean(spark_, index_path_, sub, keep)
        if not state["fired"]:
            state["fired"] = True
            # replay batch 2 with DIFFERENT contents: keys {0,1,2}
            # unchanged, row count 1 -> 2
            append_to_minhash_index(
                _docs_df(spark, [_doc(2, 7), _doc(22, 8)]),
                idx, "doc_id", "text", batch_id=2,
            )

    monkeypatch.setattr(fsio, "clean_versions_except", sneaky)
    with pytest.raises(RuntimeError, match="drift"):
        compact_minhash_index(spark, idx, keep_last=1)
    monkeypatch.setattr(fsio, "clean_versions_except", real_clean)
    meta = fsio.read_json(spark, idx + "/_meta.json")
    assert int(meta.get("version", 0)) == 0, "flip must have aborted"
    assert meta["batches"]["2"] == 2, "replayed batch's meta entry intact"
    # recovery: a clean re-run compacts the replayed contents in
    meta2 = compact_minhash_index(spark, idx, keep_last=1)
    assert meta2["version"] == 1
    hits = minhash_query_index(
        _docs_df(spark, [_doc(99, 8)]), idx, "doc_id", "text", threshold=0.5
    )
    assert {r["id_b"] for r in hits.collect()} == {22}, (
        "replayed batch's data must survive the recovered compaction"
    )


def test_stored_query_max_bucket_size_caps_minhash(spark, tmp_path):
    """ADVICE r9: the stored-index query path's forced candidate
    broadcast needs a mega-bucket bound. With max_bucket_size set, a
    boilerplate bucket (k identical stored docs) is dropped before the
    candidate join; normal matches are unaffected; default None keeps
    exact semantics."""
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        build_minhash_index,
        minhash_query_index,
    )

    idx = str(tmp_path / "mh_megabucket")
    mega = [(i, _doc(0, 0)[1]) for i in range(30)]  # 30 identical docs
    normal = [_doc(1000, 5)]
    build_minhash_index(
        _docs_df(spark, mega + normal), idx, "doc_id", "text"
    )
    probes = _docs_df(spark, [(1, _doc(0, 0)[1]), (2, _doc(2000, 5)[1])])
    full = minhash_query_index(probes, idx, "doc_id", "text", threshold=0.5)
    assert {r["id_b"] for r in full.collect()} == set(range(30)) | {1000}
    capped = minhash_query_index(
        probes, idx, "doc_id", "text", threshold=0.5, max_bucket_size=10
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(2, 1000)}, f"mega-bucket not dropped: {got}"
    # plan stays shuffle-free on the index side: no SortMergeJoin
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan


def test_stored_query_max_bucket_size_caps_embed_lsh(spark, tmp_path):
    import numpy as np

    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        build_embed_lsh_index,
        embed_lsh_query_index,
    )

    rng = np.random.default_rng(3)
    boiler = [float(x) for x in rng.standard_normal(8)]
    other = [float(x) for x in rng.standard_normal(8)]
    rows = [(i, boiler) for i in range(25)] + [(1000, other)]
    idx = str(tmp_path / "el_megabucket")
    build_embed_lsh_index(
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ),
        idx, "vec_id", "embedding", n_planes=4, n_tables=2, dim=8,
    )
    probes = spark.createDataFrame(
        [(1, boiler), (2, other)], "vec_id long, embedding array<double>"
    )
    full = embed_lsh_query_index(
        probes, idx, "vec_id", "embedding", threshold=0.99
    )
    assert {r["id_b"] for r in full.collect()} == set(range(25)) | {1000}
    capped = embed_lsh_query_index(
        probes, idx, "vec_id", "embedding", threshold=0.99,
        max_bucket_size=10,
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(2, 1000)}, f"mega-bucket not dropped: {got}"


def test_lease_race_two_appenders_lose_no_data(spark, monkeypatch, tmp_path):
    """r9 verdict task 7 (object-store lease semantics): when
    create-if-absent admits BOTH racers (S3 consistency window), two
    concurrent appends interleave read-modify-write on the meta and
    one batch's META ENTRY is lost to write_json last-writer-wins —
    but its DATA subtree must stay fully queryable (scans read the
    versioned dir wholesale, not through the batch list), and a replay
    of the lost batch must converge the meta. This is the documented
    degradation mode the lease exists to prevent and the drift guard
    cannot see (no flip involved)."""
    import projet_5spar_sparkstreaming_spark.fsio as fsio
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        minhash_query_index,
        read_minhash_meta,
    )

    idx = str(tmp_path / "mh_race_append")
    build_minhash_index(_docs_df(spark, [_doc(0, 0)]), idx, "doc_id", "text")
    # both racers admitted == lease is a no-op for this scenario
    monkeypatch.setattr(fsio, "writer_lease", _noop_lease)
    real_write = fsio.write_json
    state = {"fired": False}

    def interleaved(spark_, path, obj):
        # appender A is about to publish its meta (with batch 5).
        # Interleave appender B COMPLETELY inside the window: B read
        # the pre-A meta, lands batch 6's data + meta, then A's write
        # below clobbers B's meta entry (last-writer-wins).
        if not state["fired"] and path.endswith("_meta.json"):
            state["fired"] = True
            append_to_minhash_index(
                _docs_df(spark, [_doc(6, 6)]), idx, "doc_id", "text",
                batch_id=6,
            )
        real_write(spark_, path, obj)

    monkeypatch.setattr(fsio, "write_json", interleaved)
    append_to_minhash_index(
        _docs_df(spark, [_doc(5, 5)]), idx, "doc_id", "text", batch_id=5
    )
    monkeypatch.setattr(fsio, "write_json", real_write)

    meta = read_minhash_meta(spark, idx)
    assert set(meta["batches"]) == {"0", "5"}, "B's meta entry lost (expected)"
    # ... but NO DATA is lost: both batches' docs are live in queries
    probes = _docs_df(spark, [(95, _doc(0, 5)[1]), (96, _doc(0, 6)[1])])
    hits = minhash_query_index(probes, idx, "doc_id", "text", threshold=0.5)
    assert {r["id_b"] for r in hits.collect()} == {5, 6}
    # replay of the lost batch converges the meta (idempotent append)
    append_to_minhash_index(
        _docs_df(spark, [_doc(6, 6)]), idx, "doc_id", "text", batch_id=6
    )
    meta = read_minhash_meta(spark, idx)
    assert set(meta["batches"]) == {"0", "5", "6"}
    hits2 = minhash_query_index(probes, idx, "doc_id", "text", threshold=0.5)
    assert {r["id_b"] for r in hits2.collect()} == {5, 6}


def test_lease_race_two_compactors_one_flip_wins(spark, monkeypatch, tmp_path):
    """Two compactors both admitted (create-if-absent race): both
    snapshot the same meta, both rewrite a v1 tree; the first flip
    wins, the second compactor's flip-time drift guard sees the moved
    version pointer and ABORTS — at most one flip ever publishes, and
    the index stays complete and queryable throughout."""
    import projet_5spar_sparkstreaming_spark.fsio as fsio
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        compact_minhash_index,
        minhash_query_index,
        read_minhash_meta,
    )

    idx = str(tmp_path / "mh_race_compact")
    build_minhash_index(_docs_df(spark, [_doc(0, 0)]), idx, "doc_id", "text")
    for b in (1, 2):
        append_to_minhash_index(
            _docs_df(spark, [_doc(b, b)]), idx, "doc_id", "text", batch_id=b
        )
    monkeypatch.setattr(fsio, "writer_lease", _noop_lease)
    real_clean = fsio.clean_versions_except
    state = {"fired": False}

    def second_compactor(spark_, index_path_, sub, keep):
        real_clean(spark_, index_path_, sub, keep)
        if not state["fired"]:
            state["fired"] = True
            # the OTHER compactor runs to completion inside the first
            # one's snapshot->flip window and publishes version 1
            inner = compact_minhash_index(spark, idx, keep_last=1)
            assert inner["version"] == 1

    monkeypatch.setattr(fsio, "clean_versions_except", second_compactor)
    with pytest.raises(RuntimeError, match="drift"):
        compact_minhash_index(spark, idx, keep_last=1)
    monkeypatch.setattr(fsio, "clean_versions_except", real_clean)

    meta = read_minhash_meta(spark, idx)
    assert meta["version"] == 1, "exactly one flip must have won"
    assert set(meta["batches"]) == {"0", "2"}
    # every doc ever appended is still queryable after the race
    probes = _docs_df(
        spark, [(90 + s, _doc(0, s)[1]) for s in (0, 1, 2)]
    )
    hits = minhash_query_index(probes, idx, "doc_id", "text", threshold=0.5)
    assert {r["id_b"] for r in hits.collect()} == {0, 1, 2}


def test_read_json_falls_back_to_old_aside(spark, tmp_path):
    """Crash between write_json's two renames leaves live ABSENT and
    .old as the only durable copy: read_json must return it (r10 —
    makes a kill -9 mid-meta-update self-healing), and the next
    successful write_json must publish fresh content and clear the
    aside."""
    import os

    from projet_5spar_sparkstreaming_spark.fsio import read_json, write_json

    p = str(tmp_path / "idx" / "_meta.json")
    write_json(spark, p, {"v": 1})
    # simulate the mid-rename crash state
    os.rename(p, p + ".old")
    assert not os.path.exists(p)
    assert read_json(spark, p) == {"v": 1}
    # recovery write publishes and clears the aside
    write_json(spark, p, {"v": 2})
    assert read_json(spark, p) == {"v": 2}
    assert not os.path.exists(p + ".old")
    # plain missing file (no aside) is still None
    assert read_json(spark, str(tmp_path / "nope.json")) is None


def test_writer_lease_breaks_dead_local_holder_immediately(spark, tmp_path):
    """A lock whose recorded holder ran on THIS host with a pid that no
    longer exists (kill -9'd writer) is broken on the next acquisition
    attempt — no stale-TTL wait; a LIVE local holder still blocks."""
    import json as _json
    import os
    import subprocess
    import sys
    import time

    from projet_5spar_sparkstreaming_spark.fsio import (
        _host_boot_id,
        writer_lease,
    )

    idx = str(tmp_path / "deadpid_idx")
    lock_file = idx + ".writer.lock"

    # a freshly-dead pid (just exited, not yet recycled)
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    import socket

    with open(lock_file, "w") as f:
        _json.dump(
            {"pid": proc.pid, "host": socket.gethostname(),
             "boot_id": _host_boot_id(),
             "acquired_unix": time.time()},
            f,
        )
    t0 = time.monotonic()
    # stale_sec is HUGE: only the dead-pid probe can break this lock
    with writer_lease(spark, idx, timeout_sec=10.0, stale_sec=10**9):
        assert os.path.exists(lock_file)
    assert time.monotonic() - t0 < 5.0, "dead-pid break must be immediate"
    # a LIVE local holder (this very process) still blocks
    with open(lock_file, "w") as f:
        _json.dump(
            {"pid": os.getpid(), "host": socket.gethostname(),
             "boot_id": _host_boot_id(),
             "acquired_unix": time.time()},
            f,
        )
    with pytest.raises(TimeoutError):
        with writer_lease(spark, idx, timeout_sec=1.5, stale_sec=10**9,
                          poll_sec=0.2):
            pass
    os.unlink(lock_file)


def test_dead_pid_on_hostname_twin_does_not_fast_break(spark, tmp_path):
    """ADVICE r10: 'this host' is hostname AND kernel boot id — a lock
    whose holder JSON carries this hostname but a DIFFERENT boot id
    (cloned VM / same-``--hostname`` container on a shared filesystem)
    must NOT be fast-broken just because the pid happens not to exist
    locally; it waits for the stale TTL like any remote holder."""
    import json as _json
    import socket
    import subprocess
    import sys
    import time

    from projet_5spar_sparkstreaming_spark.fsio import writer_lease

    idx = str(tmp_path / "twin_host_idx")
    lock_file = idx + ".writer.lock"
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()  # a locally-dead pid — but the "host" is a twin
    with open(lock_file, "w") as f:
        _json.dump(
            {"pid": proc.pid, "host": socket.gethostname(),
             "boot_id": "not-this-boot-0000", "token": "t",
             "acquired_unix": time.time()},
            f,
        )
    import os
    with pytest.raises(TimeoutError):
        with writer_lease(spark, idx, timeout_sec=1.5, stale_sec=10**9,
                          poll_sec=0.2):
            pass
    os.unlink(lock_file)


def test_break_stale_lock_spares_fresh_holder(spark, tmp_path):
    """ADVICE r10 (medium): a slow breaker whose staleness observation
    predates another breaker's break + a FRESH holder's create must
    not delete the fresh lock — ``_break_stale_lock`` compares the
    renamed tombstone's holder JSON against the holder it observed
    stale and renames the fresh lock back into place."""
    import json as _json

    from projet_5spar_sparkstreaming_spark import fsio

    import os

    idx = str(tmp_path / "fresh_spared_idx")
    lock_file = idx + ".writer.lock"
    stale_holder = {"pid": 1, "host": "gone-host", "boot_id": "b0",
                    "token": "stale", "acquired_unix": 0.0}
    fresh_holder = {"pid": os.getpid(), "host": "live-host",
                    "boot_id": "b1", "token": "fresh",
                    "acquired_unix": 1e12}
    # the slow breaker observed the stale holder...
    # ...but by the time it renames, a FRESH holder owns the path
    with open(lock_file, "w") as f:
        _json.dump(fresh_holder, f)
    broke = fsio._break_stale_lock(spark, lock_file, stale_holder, 60.0)
    assert broke is False
    # fresh lock restored in place, byte-identical holder
    with open(lock_file) as f:
        assert _json.load(f) == fresh_holder
    # no tombstone left behind on the restore path
    leftovers = [p for p in os.listdir(tmp_path) if ".break." in p]
    assert leftovers == []
    # and the same call against the lock it DID observe breaks it
    with open(lock_file, "w") as f:
        _json.dump(stale_holder, f)
    assert fsio._break_stale_lock(spark, lock_file, stale_holder, 60.0)
    assert not os.path.exists(lock_file)


def test_break_stale_lock_jsonless_fresh_vs_old(spark, tmp_path):
    """A JSON-less lock (holder bytes never landed) is only breakable
    via the age TTL — so a YOUNG empty lock at rename time is treated
    as a fresh holder mid-write and restored, while an OLD empty lock
    is removed."""
    from projet_5spar_sparkstreaming_spark import fsio

    import os
    import time

    idx = str(tmp_path / "jsonless_idx")
    lock_file = idx + ".writer.lock"
    open(lock_file, "w").close()  # young + empty → spare it
    assert fsio._break_stale_lock(spark, lock_file, None, 60.0) is False
    assert os.path.exists(lock_file)
    os.utime(lock_file, (time.time() - 3600, time.time() - 3600))
    assert fsio._break_stale_lock(spark, lock_file, None, 60.0) is True
    assert not os.path.exists(lock_file)


def test_recycled_pid_holder_judged_dead(spark):
    """r13, found by the extended lease fuzz: with pid_max 32768 a
    process-churny host wraps the pid space inside one stale TTL, and
    the dead-pid probe then mistook an unrelated LIVE process wearing
    the corpse's recycled pid for the holder — every writer stalled for
    the full 30-min TTL (observed as a 600 s acquisition timeout). The
    holder identity is now the recycling-proof (boot_id, pid,
    pid_start) triple."""
    import os
    import socket

    from projet_5spar_sparkstreaming_spark import fsio

    alive_pid = os.getpid()
    base = {
        "pid": alive_pid,
        "host": socket.gethostname(),
        "boot_id": fsio._host_boot_id(),
    }
    real_start = fsio._proc_starttime(alive_pid)
    assert real_start  # Linux: /proc/<pid>/stat readable
    # same pid, DIFFERENT start time: a recycled pid — provably dead
    assert fsio._holder_dead_on_this_host({**base, "pid_start": "1"})
    # same pid, same start time: genuinely alive
    assert not fsio._holder_dead_on_this_host(
        {**base, "pid_start": real_start}
    )
    # legacy holder without the field: conservative TTL path
    assert not fsio._holder_dead_on_this_host(base)
    # and a pid that does not exist stays immediately-dead
    dead = {**base, "pid": 4_194_000, "pid_start": "1"}
    assert fsio._holder_dead_on_this_host(dead) or os.path.exists(
        f"/proc/{dead['pid']}"
    )


def test_torn_jsonless_lock_breaks_after_grace(spark, tmp_path):
    """r13, found by the extended lease fuzz: a holder killed BETWEEN
    its lock create and its holder-JSON write leaves an empty lock the
    dead-pid probe cannot judge (no pid) — writers used to wait the
    full 30-min TTL. A JSON-less lock older than the 60 s grace is now
    broken; a fresh one is still spared (could be a live holder's
    in-flight write)."""
    import os
    import time

    from projet_5spar_sparkstreaming_spark import fsio
    from projet_5spar_sparkstreaming_spark.fsio import writer_lease

    idx = str(tmp_path / "torn_idx")
    lock_file = idx + ".writer.lock"
    # fresh empty lock: NOT broken inside the grace window
    open(lock_file, "w").close()
    import pytest as _pytest

    with _pytest.raises(TimeoutError):
        with writer_lease(spark, idx, timeout_sec=2.0):
            pass
    assert os.path.exists(lock_file)
    # aged past the grace: broken, lease acquired well under the TTL
    os.utime(lock_file, (time.time() - 120, time.time() - 120))
    t0 = time.time()
    with writer_lease(spark, idx, timeout_sec=30.0) as lease:
        lease.validate()
    assert time.time() - t0 < 10.0
    assert fsio._JSONLESS_GRACE_SEC == 60.0


def test_read_json_reprobe_after_concurrent_publish(spark, tmp_path, monkeypatch):
    """ADVICE r10: read_json's exists→open TOCTOU — when the .old
    aside vanishes between probe and open because a concurrent
    write_json published the live file, the reader re-probes and
    returns the fresh live content instead of raising."""
    import json as _json

    from projet_5spar_sparkstreaming_spark import fsio

    import os

    live = str(tmp_path / "meta.json")
    old = live + ".old"
    with open(old, "w") as f:
        _json.dump({"v": "old"}, f)

    real_fs_path = fsio._fs_path

    class RacingFs:
        """Delegates to the real Hadoop fs, but the FIRST open of the
        .old path simulates the concurrent writer: publish live,
        delete .old, then fail the open (file gone)."""

        def __init__(self, fs):
            self._fs = fs
            self.raced = False

        def open(self, hpath):
            if str(hpath).endswith(".old") and not self.raced:
                self.raced = True
                with open(live, "w") as f:
                    _json.dump({"v": "new"}, f)
                os.unlink(old)
                raise IOError("simulated: .old deleted by writer")
            return self._fs.open(hpath)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    racer = {}

    def patched(spark_, path_):
        fs, hp = real_fs_path(spark_, path_)
        if "fs" not in racer:
            racer["fs"] = RacingFs(fs)
        return racer["fs"], hp

    monkeypatch.setattr(fsio, "_fs_path", patched)
    assert fsio.read_json(spark, live) == {"v": "new"}
    assert racer["fs"].raced


def test_embed_routing_respects_replay_exclusion(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r10: the verify-stage routing sizes the store the query
    actually SCANS — with max_batch_id_exclusive set, excluded batches
    must not count, so a query restricted to a small old prefix of a
    large store takes the small-store (planner-chosen) verify plan
    while the full-store query keeps the pinned broadcast plan."""
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_embed_lsh_index,
        build_embed_lsh_index,
        embed_lsh_query_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    eidx = str(tmp_path / "el_excl_route")
    # batch 0: 20-row prefix; batch 1: the rest (large tail)
    build_embed_lsh_index(
        emb.limit(20), eidx, "vec_id", "embedding", n_planes=6, n_tables=3
    )
    append_to_embed_lsh_index(emb, eidx, "vec_id", "embedding", batch_id=1)

    import projet_5spar_sparkstreaming_spark.operators.similarity as S

    calls = {"n": 0}
    real_bc = S.F.broadcast

    def counting(df):
        calls["n"] += 1
        return real_bc(df)

    monkeypatch.setattr(S.F, "broadcast", counting)
    probe = emb.limit(10)
    # threshold between prefix (20) and full store (20 + all rows)
    kw = dict(small_store_rows=100)
    prefix_q = embed_lsh_query_index(
        probe, eidx, "vec_id", "embedding",
        max_batch_id_exclusive=1, **kw,
    )
    n_prefix = calls["n"]
    calls["n"] = 0
    full_q = embed_lsh_query_index(probe, eidx, "vec_id", "embedding", **kw)
    n_full = calls["n"]
    # prefix: only the candidate-stage probe broadcast; full: + the two
    # forced verify-stage broadcasts
    assert n_prefix == 1 and n_full == 3, (n_prefix, n_full)
    # and the prefix query's results only involve batch-0 ids
    prefix_ids = {r.id_b for r in prefix_q.collect()}
    batch0_ids = {r.vec_id for r in emb.limit(20).collect()}
    assert prefix_ids <= batch0_ids
    assert full_q.count() >= prefix_q.count()


def test_ivf_query_route_auto_both_regimes(spark, sf_dir, tmp_path):
    """r10 verdict task 1: query_ivf_index(route="auto") picks the
    measured winner by the store size in the meta — small store ->
    exact brute over the stored vectors (recall 1.0 by construction),
    large store -> the probe path. Forced via brute_cutoff_rows; both
    routes return the same contract columns, and the brute route's
    result equals brute_force_top_k_arrow over the same stored data."""
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        brute_force_top_k_arrow,
        build_ivf_index,
        query_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = str(tmp_path / "ivf_route")
    build_ivf_index(emb, idx, "vec_id", "embedding", n_centroids=16)
    queries = emb.filter(F.col("vec_id") < 10)

    # small store (2k rows <= default cutoff): auto routes to brute
    auto_small = query_ivf_index(
        spark, queries, idx, "vec_id", "embedding", k=5, route="auto"
    )
    exact = brute_force_top_k_arrow(
        queries, emb, "vec_id", "vec_id", k=5
    )
    a = sorted(map(tuple, auto_small.select(
        "query_id", "neighbor_id", "cosine").collect()))
    e = sorted(map(tuple, exact.select(
        "query_id", "neighbor_id", "cosine").collect()))
    assert a == e  # exact result on the brute route

    # same store forced into the "large" regime: auto routes to IVF
    auto_large = query_ivf_index(
        spark, queries, idx, "vec_id", "embedding", k=5,
        n_probe=6, route="auto", brute_cutoff_rows=0,
    )
    ivf = query_ivf_index(
        spark, queries, idx, "vec_id", "embedding", k=5,
        n_probe=6, route="ivf",
    )
    assert sorted(map(tuple, auto_large.collect())) == sorted(
        map(tuple, ivf.collect())
    )
    # schema contract identical across routes
    assert auto_small.columns == auto_large.columns

    # unknown route is rejected
    import pytest as _pytest

    with _pytest.raises(ValueError, match="route"):
        query_ivf_index(
            spark, queries, idx, "vec_id", "embedding", route="fastest"
        )


def test_ivf_rebuild_retrains_quantizer_preserving_results(spark, tmp_path):
    """rebuild_ivf_index retrains the quantizer from the STORED vectors
    (no raw corpus needed), rewrites the data tree under the next
    version with batch_ids preserved verbatim, and flips (centroids,
    version) atomically: brute-route results are identical pre/post
    (the stored vectors are untouched), the probe path's emissions stay
    inside the exact relaxed top-k at the NEW cell geometry, per-batch
    meta counts survive, and appends keep working after the flip."""
    import numpy as np

    from projet_5spar_sparkstreaming_spark.fsio import read_json
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
        rebuild_ivf_index,
    )

    rng = np.random.RandomState(33)

    def mk(ids):
        rows = []
        for i in ids:
            v = rng.randn(16)
            rows.append((int(i), [float(x) for x in v / np.linalg.norm(v)]))
        return rows

    b0, b1, b2 = mk(range(40)), mk(range(100, 140)), mk(range(200, 240))
    idx = str(tmp_path / "ivf_rebuild")
    build_ivf_index(
        _vecs_df(spark, b0), idx, "vec_id", "embedding", n_centroids=4
    )
    append_to_ivf_index(_vecs_df(spark, b1), idx, "vec_id", "embedding", 1)
    append_to_ivf_index(_vecs_df(spark, b2), idx, "vec_id", "embedding", 2)

    queries = _vecs_df(spark, mk(range(900, 910)))

    def knn(route):
        return sorted(
            (r["query_id"], r["neighbor_id"], r["cosine"])
            for r in query_ivf_index(
                spark, queries, idx, "vec_id", "embedding",
                k=3, n_probe=3, route=route,
            ).collect()
        )

    before_exact = knn("brute")
    meta = rebuild_ivf_index(spark, idx, n_centroids=12)
    assert meta["version"] == 1 and len(meta["centroids"]) == 12
    assert meta["batches"] == {"0": 40, "1": 40, "2": 40}
    assert read_json(spark, idx + "/_centroids.json")["version"] == 1
    assert knn("brute") == before_exact
    # probe path honest at the new geometry: emissions within exact
    # relaxed top-k of the full store
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        brute_force_top_k_arrow,
    )

    store = _vecs_df(spark, b0 + b1 + b2)
    relaxed = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_top_k_arrow(
            queries, store, "vec_id", "vec_id", k=20
        ).collect()
    }
    probe = {
        (r["query_id"], r["neighbor_id"])
        for r in query_ivf_index(
            spark, queries, idx, "vec_id", "embedding", k=3, n_probe=4,
            route="ivf",
        ).collect()
    }
    assert probe <= relaxed and probe
    # lifecycle continues: append lands in the new tree
    append_to_ivf_index(
        _vecs_df(spark, mk(range(300, 320))), idx, "vec_id", "embedding", 3
    )
    m2 = read_json(spark, idx + "/_centroids.json")
    assert m2["batches"]["3"] == 20 and m2["version"] == 1
    assert len(knn("brute")) == 30


def test_ivf_rebuild_duplicate_ids_across_batches_no_fanout(spark, tmp_path):
    """r11 advice (medium): an at-least-once upstream legally delivers
    the SAME id in two different batches; rebuild must carry batch_id
    through the assignment pass, not re-join on id — an id equi-join
    fans the duplicated rows out 2x2, silently inflating the store on
    every rebuild and desyncing the per-batch meta counts. Pin: after
    a rebuild over a store with one id present in two batches, the
    stored row count equals the meta total exactly (and a SECOND
    rebuild doesn't compound)."""
    import numpy as np

    from projet_5spar_sparkstreaming_spark.fsio import read_json
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        _ivf_data_dir,
        append_to_ivf_index,
        build_ivf_index,
        rebuild_ivf_index,
    )

    rng = np.random.RandomState(7)

    def mk(ids):
        rows = []
        for i in ids:
            v = rng.randn(16)
            rows.append((int(i), [float(x) for x in v / np.linalg.norm(v)]))
        return rows

    idx = str(tmp_path / "ivf_dup_rebuild")
    # id 5 appears in batch 0 AND batch 1 (different vectors — a
    # re-delivered, possibly re-embedded doc)
    build_ivf_index(_vecs_df(spark, mk(range(20))), idx, "vec_id",
                    "embedding", n_centroids=4, batch_id=0)
    append_to_ivf_index(_vecs_df(spark, mk([5] + list(range(100, 119)))),
                        idx, "vec_id", "embedding", batch_id=1)

    def stored_rows():
        meta = read_json(spark, idx + "/_centroids.json")
        d = _ivf_data_dir(spark, idx, int(meta.get("version", 0)))
        return spark.read.parquet(d).count(), meta

    n0, m0 = stored_rows()
    assert n0 == 40 == sum(m0["batches"].values())
    for expect_version in (1, 2):  # second rebuild: no compounding
        meta = rebuild_ivf_index(spark, idx, n_centroids=6)
        assert meta["version"] == expect_version
        n, m = stored_rows()
        assert n == 40, f"rebuild fanned out duplicate ids: {n} rows"
        assert m["batches"] == {"0": 20, "1": 20}
        # the duplicated id is present once per BATCH, not per pair
        d = _ivf_data_dir(spark, idx, meta["version"])
        dup = spark.read.parquet(d).filter(F.col("id") == 5)
        assert dup.count() == 2
        assert {r["batch_id"] for r in dup.collect()} == {0, 1}


def test_embed_lsh_rebuild_retrains_params_preserving_results(spark, tmp_path):
    """r12: the embed-LSH twin of the IVF rebuild. An index built with
    params sized for a small corpus (11 planes ~ 100 rows) grows 12x;
    needs_embed_lsh_rebuild (pure metadata: auto planes at the current
    total vs pinned) trips; rebuild re-buckets every stored vector
    under the retrained hyperplane stack with batch_ids carried
    through the Arrow pass (duplicate ids across batches must NOT fan
    out), flips (params, version) atomically, and the stored-index
    query equals the one-shot recompute at the NEW params; appends
    continue and pick the new params up from the meta."""
    import numpy as np

    from projet_5spar_sparkstreaming_spark.fsio import versioned_subdir
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        append_to_embed_lsh_index,
        auto_lsh_params,
        build_embed_lsh_index,
        cosine_incremental_pairs,
        embed_lsh_query_index,
        needs_embed_lsh_rebuild,
        read_embed_lsh_meta,
        rebuild_embed_lsh_index,
    )

    rng = np.random.RandomState(13)

    def mk(ids, base=None, mutate=0.0):
        rows = []
        for i in ids:
            v = (base if base is not None else rng.randn(64)) + (
                mutate * rng.randn(64)
            )
            v = v / np.linalg.norm(v)
            rows.append((int(i), [float(x) for x in v]))
        return rows

    b0 = mk(range(100))
    # id 7 re-delivered in batch 1 (at-least-once upstream): the
    # rebuild's passthrough must keep it one row PER BATCH, not 2x2
    b1 = mk([7] + list(range(1000, 1399)))
    b2 = mk(range(2000, 2700))
    base_vec = np.array(b0[5][1])

    idx = str(tmp_path / "emb_rebuild")
    build_embed_lsh_index(
        _vecs_df(spark, b0), idx, "vec_id", "embedding",
        n_planes=11, n_tables=4, batch_id=0,  # sized for ~100 rows
    )
    append_to_embed_lsh_index(_vecs_df(spark, b1), idx, "vec_id", "embedding", 1)
    append_to_embed_lsh_index(_vecs_df(spark, b2), idx, "vec_id", "embedding", 2)

    meta0 = read_embed_lsh_meta(spark, idx)
    assert meta0["sized_for_rows"] == 100
    assert needs_embed_lsh_rebuild(meta0)  # auto(1200)=15 planes >= 11+1

    meta = rebuild_embed_lsh_index(spark, idx)
    exp_p, exp_t = auto_lsh_params(1200, dim=64)
    assert (meta["n_planes"], meta["n_tables"]) == (exp_p, exp_t)
    assert meta["n_planes"] > 11 and meta["version"] == 1
    assert meta["sized_for_rows"] == 1200
    assert meta["batches"] == {"0": 100, "1": 400, "2": 700}
    assert not needs_embed_lsh_rebuild(meta)  # reset at the flip

    # no duplicate-id fanout: stored vecs match the meta exactly, and
    # id 7 is present once per batch
    vdir = versioned_subdir(idx, "vecs", 1)
    vecs = spark.read.option("basePath", vdir).parquet(vdir)
    assert vecs.count() == 1200
    assert sorted(
        r["batch_id"] for r in vecs.filter("id = 7").collect()
    ) == [0, 1]
    # buckets re-derived at the new params: planes*... = n_tables rows/id
    bdir = versioned_subdir(idx, "buckets", 1)
    buckets = spark.read.option("basePath", bdir).parquet(bdir)
    assert buckets.count() == 1200 * meta["n_tables"]

    # stored-index query == one-shot recompute at the NEW params
    new = mk([9000], base_vec, 0.002) + mk([9001])
    new_df = _vecs_df(spark, new)
    via_index = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embed_lsh_query_index(
            new_df, idx, "vec_id", "embedding", threshold=0.95
        ).collect()
    }
    inline = {
        (r["id_a"], r["id_b"], r["cosine"])
        for r in cosine_incremental_pairs(
            new_df, _vecs_df(spark, b0 + b1 + b2), "vec_id", "embedding",
            threshold=0.95,
            n_planes=meta["n_planes"], n_tables=meta["n_tables"],
        ).collect()
    }
    assert via_index == inline
    assert (9000, 5) in {(a, b) for a, b, _ in via_index}

    # lifecycle continues: appends bucketize with the NEW params
    # (0.002 mutation: the 9000<->9100 pair sits at cosine ~0.9997 —
    # both carry independent noise, and at the rebuilt params a 0.993
    # pair has a ~1.6% honest LSH miss probability; recall at the
    # threshold boundary is soft by design, the lifecycle is what this
    # asserts)
    b3 = mk([9100], base_vec, 0.002) + mk(range(3000, 3019))
    append_to_embed_lsh_index(_vecs_df(spark, b3), idx, "vec_id", "embedding", 3)
    m2 = read_embed_lsh_meta(spark, idx)
    assert m2["batches"]["3"] == 20 and m2["version"] == 1
    hits = {
        (r["id_a"], r["id_b"])
        for r in embed_lsh_query_index(
            new_df, idx, "vec_id", "embedding", threshold=0.95
        ).collect()
    }
    assert (9000, 9100) in hits  # the post-rebuild batch is queryable


def test_lease_fence_aborts_displaced_holder(spark, tmp_path):
    """r12 (found by the lease fuzz): the tombstone dance can
    momentarily empty the lock path while breaking a THIRD writer's
    corpse lock, letting a fresh waiter in — two live holders. The
    commit fence is the backstop: a displaced holder's ``validate()``
    raises instead of letting its later meta write clobber the new
    holder's commits."""
    import pytest as _pytest

    from projet_5spar_sparkstreaming_spark.fsio import (
        LeaseLostError,
        rename_path,
        writer_lease,
    )

    idx = str(tmp_path / "fenced_idx")
    with writer_lease(spark, idx) as lease:
        lease.validate()  # intact: the lock carries our token
        # stage the displacement: breaker renames our lock away...
        rename_path(spark, idx + ".writer.lock", idx + ".writer.lock.break.X")
        # ...and a fresh waiter acquires the now-empty path
        with writer_lease(spark, idx, timeout_sec=5) as fresh:
            fresh.validate()  # the new holder is intact
            with _pytest.raises(LeaseLostError):
                lease.validate()  # the displaced holder must abort


def test_append_aborts_never_clobbers_when_lease_displaced(
    spark, tmp_path, monkeypatch
):
    """End-to-end fence: an append whose lease is displaced MID-BATCH
    (after its data write, before its meta commit) while another
    writer commits a different batch must raise LeaseLostError and
    leave the other writer's meta entry intact — the exact
    last-writer-wins erasure the r12 fuzz caught (five committed
    batches vanished from the meta) can no longer happen. The aborted
    batch replays like any failed micro-batch and converges."""
    import numpy as np
    import pytest as _pytest

    import projet_5spar_sparkstreaming_spark.operators.similarity as sim
    from projet_5spar_sparkstreaming_spark.fsio import (
        LeaseLostError,
        read_json,
        rename_path,
    )

    rng = np.random.RandomState(5)

    def mk(ids):
        rows = []
        for i in ids:
            v = rng.randn(8)
            rows.append((int(i), [float(x) for x in v / np.linalg.norm(v)]))
        return rows

    idx = str(tmp_path / "clobber_idx")
    sim.build_ivf_index(
        _vecs_df(spark, mk(range(20))), idx, "vec_id", "embedding",
        n_centroids=4, batch_id=0,
    )
    b1, b2 = mk(range(100, 120)), mk(range(200, 220))

    real = sim._write_ivf_batch
    armed = {"on": True}

    def hooked(*args, **kwargs):
        n = real(*args, **kwargs)
        if armed["on"]:
            armed["on"] = False  # the interposed append must run clean
            # displace the outer append's lease right after its batch
            # data landed, and let ANOTHER writer commit batch 2
            rename_path(
                spark, idx + ".writer.lock", idx + ".writer.lock.break.X"
            )
            sim.append_to_ivf_index(
                _vecs_df(spark, b2), idx, "vec_id", "embedding", batch_id=2
            )
        return n

    monkeypatch.setattr(sim, "_write_ivf_batch", hooked)
    with _pytest.raises(LeaseLostError):
        sim.append_to_ivf_index(
            _vecs_df(spark, b1), idx, "vec_id", "embedding", batch_id=1
        )
    # the other writer's commit SURVIVED (pre-fence: erased), batch 1
    # is absent (aborted before its meta commit)
    meta = read_json(spark, idx + "/_centroids.json")
    assert meta["batches"] == {"0": 20, "2": 20}
    # replay converges, exactly like a failed micro-batch retry
    sim.append_to_ivf_index(
        _vecs_df(spark, b1), idx, "vec_id", "embedding", batch_id=1
    )
    assert read_json(spark, idx + "/_centroids.json")["batches"] == {
        "0": 20, "1": 20, "2": 20,
    }


def test_guard_data_writes_keeps_write_error_when_probe_fails(spark, tmp_path):
    """A failed data write re-checks the lease; when that check itself
    fails with anything but LeaseLostError, the data-write error is the
    one that surfaces, not the probe's."""
    from projet_5spar_sparkstreaming_spark.fsio import writer_lease

    def broken_validate():
        raise OSError("lease probe failed")

    with writer_lease(spark, str(tmp_path / "probe_idx")) as lease:
        lease.validate = broken_validate
        with pytest.raises(ValueError, match="data write failed"):
            with lease.guard_data_writes():
                raise ValueError("data write failed")


def test_guard_replay_detected_from_batch_dir_on_disk(spark, tmp_path):
    """An append killed between its data write and its meta write leaves
    ``batch_id=N`` on disk with no meta entry. Its replay must still be
    classed as a replay, so the guard plans the survivors (listing the
    index) BEFORE the append's overwrite deletes those files."""
    import os
    import time

    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        MINHASH,
        build_minhash_index,
        read_minhash_meta,
    )
    from projet_5spar_sparkstreaming_spark.operators.stored_index import (
        batch_written,
    )
    from projet_5spar_sparkstreaming_spark.streaming.dedup import _guard_step

    idx = str(tmp_path / "mh_orphan")
    build_minhash_index(_docs_df(spark, [_doc(0, 0)]), idx, "doc_id", "text")
    meta = read_minhash_meta(spark, idx)
    assert not batch_written(spark, MINHASH, idx, meta, 5)
    os.makedirs(f"{idx}/sigs/batch_id=5")  # the crashed append's data
    assert "5" not in meta["batches"]
    assert batch_written(spark, MINHASH, idx, meta, 5)
    assert batch_written(spark, MINHASH, idx, meta, 0)  # meta entry

    def run(batch_id):
        planned, seen = [], []

        def survivors():
            time.sleep(0.5)  # a concurrent append would start meanwhile
            planned.append(True)
            return _docs_df(spark, [_doc(batch_id, batch_id)])

        _guard_step(
            spark, MINHASH, idx, batch_id, meta,
            build=lambda: pytest.fail("the index exists: no build"),
            append=lambda: seen.append(bool(planned)),
            survivors=survivors,
            out_dir=str(tmp_path / "out"),
        )
        assert os.path.isdir(str(tmp_path / "out" / f"batch_id={batch_id}"))
        return seen

    assert run(5) == [True], "replay must plan the survivors first"
    assert run(6) == [False], "a fresh batch overlaps plan and append"
