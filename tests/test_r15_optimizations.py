"""Focused tests for the r15 optimization rewrites: the estimate-sized
candidate-pair dedup that replaced the scan-parallelism-inherited
dropDuplicates in the embed LSH pair joins (r14 verdict task 1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_sized_pair_dedup_partition_math(spark):
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        _PAIRS_PER_DEDUP_TASK,
        _sized_pair_dedup,
    )

    base = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3)], "id_a long, id_b long"
    )
    # est None: no sizing exchange added (legacy explicit-params shape)
    assert "REPARTITION_BY_NUM" not in _plan(_sized_pair_dedup(base, None))
    # est below one task's budget: exactly 1 partition (plans as a
    # SinglePartition exchange rather than hashpartitioning)
    one = _sized_pair_dedup(base, 10.0)
    assert "Exchange" in _plan(one)
    assert one.rdd.getNumPartitions() == 1
    # a multi-partition estimate keeps the hash exchange on the ids
    assert "hashpartitioning(id_a" in _plan(
        _sized_pair_dedup(base, 3 * _PAIRS_PER_DEDUP_TASK)
    )
    # est = 140M pairs -> ceil(140e6 / budget) partitions
    big = _sized_pair_dedup(base, 140e6)
    want = -(-140_000_000 // _PAIRS_PER_DEDUP_TASK)
    assert big.rdd.getNumPartitions() == want
    # mid-scale estimate: parallelism floor engages (local[4] session)
    mid = _sized_pair_dedup(base, 6_000_000)
    assert mid.rdd.getNumPartitions() == 4
    # cap
    huge = _sized_pair_dedup(base, 1e15)
    assert huge.rdd.getNumPartitions() == 65536
    # dedup semantics unchanged
    assert sorted(map(tuple, big.collect())) == [(1, 2), (2, 3)]


def test_cosine_near_dup_pairs_sized_dedup_identical_rows(spark):
    """The sized exchange must not change the emitted pair set: auto
    params (count in hand -> sizing active) vs the pre-r15 unsized
    shape, same corpus, identical rows."""
    from projet_5spar_sparkstreaming_spark.operators import similarity

    rows = []
    for i in range(200):
        base = [((i * 31 + j * 7) % 13 - 6.0) / 6.0 for j in range(8)]
        rows.append((i, [float(x) for x in base]))
        if i % 10 == 0:  # planted near-twin
            rows.append((i + 1000, [x + (0.01 if j == 0 else 0.0)
                                    for j, x in enumerate(base)]))
    df = spark.createDataFrame(rows, "id long, v array<double>")

    def run():
        return sorted(
            map(
                tuple,
                similarity.cosine_near_dup_pairs(
                    df, "id", "v", threshold=0.95,
                    n_planes="auto", n_tables="auto", dim=8,
                ).collect(),
            )
        )

    sized = similarity._sized_pair_dedup
    got_new = run()
    try:
        similarity._sized_pair_dedup = (
            lambda cand, est: cand.dropDuplicates(["id_a", "id_b"])
        )
        got_old = run()
    finally:
        similarity._sized_pair_dedup = sized
    assert got_new == got_old
    assert got_new  # the planted twins must actually emit pairs


def test_shingle_hash_rows_per_doc_distinct(spark):
    """The in-kernel dedup must equal a downstream dropDuplicates on
    the same kernel's rows (same hash family, zero extra shuffle)."""
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        shingle_hash_rows,
    )

    rows = [
        (1, "a b c a b c a b c"),        # repeated shingles
        (2, "x y"),                        # short doc: one truncated gram
        (3, None),                          # NULL: no rows
        (4, "one two three four five six"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = sorted(
        map(tuple, shingle_hash_rows(df, "id", "text", 3,
                                     per_doc_distinct=True).collect())
    )
    want = sorted(
        map(
            tuple,
            shingle_hash_rows(df, "id", "text", 3)
            .dropDuplicates(["__id", "__s"])
            .collect(),
        )
    )
    assert got == want and got


def test_boilerplate_ratio_arrow_path_matches_explode(spark, sf_dir):
    """doc_boilerplate_ratio's dispatched Arrow-rows path must produce
    the identical (doc_id, n_shingles, n_boilerplate, ratio) rows as
    the direct JVM explode — the values are hash-family-independent
    ratios, so the two families must agree row-for-row."""
    from projet_5spar_sparkstreaming_spark.operators import dedup as od
    from projet_5spar_sparkstreaming_spark.plans.catalog import catalog

    q = {c.name: c for c in catalog()}["doc_boilerplate_ratio"]
    rows_small = sorted(map(tuple, q.build(spark, sf_dir).collect()))
    # force the Arrow path by dropping the crossover to zero
    old = od._ARROW_SHINGLE_MIN_BYTES
    try:
        # the builder does a call-time `from ... import`, which reads
        # this module attribute afresh on every build()
        od._ARROW_SHINGLE_MIN_BYTES = 0
        rows_arrow = sorted(map(tuple, q.build(spark, sf_dir).collect()))
    finally:
        od._ARROW_SHINGLE_MIN_BYTES = old
    assert rows_arrow == rows_small


def test_meta_recorded_schema_matches_legacy_inference(spark, sf_dir, tmp_path):
    """r15: index queries read the store with the meta-recorded schema
    (skipping per-scan inference); a pre-r15 meta without the field
    falls back to inference — identical results either way."""
    from pyspark.sql import functions as F

    from projet_5spar_sparkstreaming_spark.fsio import write_json
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        MINHASH,
        build_minhash_index,
        minhash_query_index,
        read_minhash_meta,
    )
    from projet_5spar_sparkstreaming_spark.sources.files import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "mh")
    build_minhash_index(docs.filter(F.col("doc_id") % 2 == 0), idx,
                        "doc_id", "text")
    meta = read_minhash_meta(spark, idx)
    assert set(meta["schemas"]) == {"sigs", "bands"}
    new = docs.filter(F.col("doc_id") % 2 == 1)
    with_schema = sorted(map(tuple, minhash_query_index(
        new, idx, "doc_id", "text", threshold=0.5).collect()))
    meta.pop("schemas")
    write_json(spark, MINHASH.meta_path(idx), meta)
    legacy = sorted(map(tuple, minhash_query_index(
        new, idx, "doc_id", "text", threshold=0.5).collect()))
    assert with_schema == legacy and with_schema


def test_exact_cosine_pairs_arrow_empty_a_side(spark):
    """r15 ADVICE fix: an empty a-side returns an empty frame (the
    cross-join fallback's behavior) instead of crashing in einsum."""
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        exact_cosine_pairs_arrow,
    )

    empty = spark.createDataFrame([], "id long, v array<double>")
    b = spark.createDataFrame([(1, [1.0, 0.0])], "id long, v array<double>")
    out = exact_cosine_pairs_arrow(empty, b, "id", "v", 0.5)
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() == 0


def test_near_dup_pair_plan_has_estimate_sized_exchange(spark, sf_dir):
    """Auto-params path: the candidate dedup exchange is the explicit
    REPARTITION_BY_NUM on (id_a, id_b), not an inherited-parallelism
    ENSURE_REQUIREMENTS one, and it carries ids only."""
    from projet_5spar_sparkstreaming_spark.plans.catalog import catalog

    cat = {q.name: q for q in catalog()}
    plan = _plan(cat["embedding_neardup_pairs"].build(spark, sf_dir))
    import re

    # at the test SF the estimate sizes to ONE partition (SinglePartition
    # exchange); at real scale the same call site emits
    # hashpartitioning(id_a, id_b, N) — both are the explicit
    # REPARTITION_BY_NUM, never inherited ENSURE_REQUIREMENTS parallelism
    m = re.search(
        r"(hashpartitioning\(id_a#\d+L, id_b#\d+L, \d+\)|SinglePartition)"
        r", REPARTITION_BY_NUM",
        plan,
    )
    assert m, plan
