"""Similarity search over embedding columns (array<float>).

North-star extension (BASELINE.json): approximate-nearest-neighbor for
training-data pipelines. Two paths:

- ``brute_force_top_k``: exact cosine top-k. The query side is
  broadcast (it is small by construction); the corpus streams through a
  codegen'd scan — no shuffle of the corpus at all, just a per-partition
  partial top-k then a tiny final top-k. This is the correctness
  baseline and is already the right *plan shape* at scale: broadcast
  the queries, never the corpus.

- ``lsh_bucketed_top_k``: random-hyperplane (sign) LSH. Corpus vectors
  hash to buckets once (linear scan, no shuffle beyond the bucket
  equi-join); only same-bucket candidates get exact scoring. With L
  tables of b bits the candidate set shrinks ~2^b-fold per table —
  the 100 TB path where a cross product is impossible.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from projet_5spar_sparkstreaming_spark.functions.vectors import (
    cosine_from_norms,
    l2_norm,
)
from projet_5spar_sparkstreaming_spark import fsio
from projet_5spar_sparkstreaming_spark.operators import stored_index as si
from projet_5spar_sparkstreaming_spark.operators.dedup import _ensure_min_parallelism
from projet_5spar_sparkstreaming_spark.operators.topk import top_k_per_group


def _collect_bounded(df: DataFrame, max_rows: int, what: str) -> list:
    """Driver-side collect with an explicit size contract: raises
    instead of silently materializing an unbounded side.

    The limit is a guard far above the expected row count, which is
    CollectLimitExec's worst case: its scale-up schedule (1 partition,
    then x4 per wave — ``spark.sql.limit.initialNumPartitions``)
    serializes the scan into ~4 underparallelized jobs whenever the
    input has fewer rows than the limit. One wave, all partitions —
    measured 3x faster on a 32-file scan that doesn't reach the cap
    (r11 embed-verify profiling)."""
    from projet_5spar_sparkstreaming_spark.session import scoped_conf

    with scoped_conf(
        df.sparkSession, {"spark.sql.limit.initialNumPartitions": "4096"}
    ):
        rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{what} side has more than {max_rows} rows; it must be "
            "small enough to broadcast (raise max_query_rows/"
            "sample_limit explicitly if this is intended)"
        )
    return rows


def bounded_broadcast_side(df: DataFrame, max_rows: int, what: str) -> DataFrame:
    """Assert a DataFrame destined for a broadcast/cross-join side is
    actually small — the distributed sibling of ``_collect_bounded``:
    nothing is collected, but a side that silently grew O(corpus) (e.g.
    a percentage decimation at 100x the data) raises here instead of
    OOMing the broadcast. The check is a bounded scan
    (``limit(max_rows+1).count()``), not a full count; a limit+count
    plans as GlobalLimit over locally-limited partitions (no
    CollectLimitExec scale-up waves), so no conf scoping is needed
    here, unlike ``_collect_bounded``."""
    if df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"{what} side has more than {max_rows} rows; it must be "
            "small enough to broadcast — use a fixed-count sample or "
            "raise the cap explicitly if this is intended"
        )
    return df


def brute_force_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).

    Dispatches to the Arrow/BLAS implementation (same contract, ~4x
    faster: one matmul per corpus batch) and falls back to the
    pure-expression plan when numpy is unavailable. Deterministic
    tie-break: cosine desc, neighbor id asc.
    """
    try:
        import numpy  # noqa: F401

        return brute_force_top_k_arrow(
            queries, corpus, query_id, corpus_id, query_vec, corpus_vec, k, exclude_self
        )
    except ImportError:
        return brute_force_top_k_expr(
            queries, corpus, query_id, corpus_id, query_vec, corpus_vec, k, exclude_self
        )


def brute_force_top_k_expr(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k on native expressions only (no numpy): the
    broadcast-queries x streamed-corpus plan, per-pair zip_with dot.
    """
    # norms once per row, not per pair — see cosine_from_norms
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        l2_norm(query_vec).alias("__qn"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        l2_norm(corpus_vec).alias("__cn"),
    )
    joined = F.broadcast(q).crossJoin(c)
    if exclude_self:
        joined = joined.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            cosine_from_norms("__qv", "__cv", "__qn", "__cn"), 6
        ).alias("cosine"),
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        rank_col="rank",
    )


def brute_force_top_k_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul (mapInPandas).

    Same result contract as ``brute_force_top_k_expr`` (cosine rounded
    to 6, ties by neighbor id). The query matrix is closed over
    (broadcast via task serialization — small by contract, enforced by
    ``max_query_rows``); each corpus Arrow batch does ONE BLAS matmul
    and a per-query partial top-k; partials reduce to the final top-k
    with one tiny shuffle on query_id.

    This is the wide-fan-out path: for thousands of queries the
    per-batch matmul beats the per-pair native expression by orders of
    magnitude while staying fully distributed over the corpus scan.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_rows = _collect_bounded(
        queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qv")),
        max_query_rows,
        "queries",
    )
    q_ids = np.array([r["qid"] for r in q_rows])
    q_mat = np.array([r["qv"] for r in q_rows], dtype=np.float64)
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-300)

    # id columns keep their INPUT types (string keys work the same as
    # longs; previously hard-coded LongType made that an implicit
    # contract divergence from the expression path)
    schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id].dataType, False),
            T.StructField("neighbor_id", corpus.schema[corpus_id].dataType, False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )
    cid, cvec = corpus_id, corpus_vec

    def _score(batches):
        for pdf in batches:
            if not len(pdf):  # empty batch: axis-1 ops are ill-defined
                continue
            c_ids = pdf[cid].to_numpy()
            c_mat = np.array(list(pdf[cvec]), dtype=np.float64)
            c_mat /= np.maximum(np.linalg.norm(c_mat, axis=1, keepdims=True), 1e-300)
            sims = np.round(q_mat @ c_mat.T, 6)  # (Q, C)
            out_q, out_n, out_s = [], [], []
            for qi in range(sims.shape[0]):
                s = sims[qi]
                mask = c_ids != q_ids[qi] if exclude_self else np.ones_like(c_ids, bool)
                idx = np.nonzero(mask)[0]
                if len(idx) > k:  # partial top-k per batch
                    part = idx[np.argpartition(-s[idx], k)[: k * 2]]
                else:
                    part = idx
                out_q.extend([q_ids[qi]] * len(part))
                out_n.extend(c_ids[part])
                out_s.extend(s[part])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_s}
            )

    partials = _ensure_min_parallelism(
        corpus.select(F.col(cid).alias(cid), F.col(cvec).alias(cvec)), cid
    ).mapInPandas(_score, schema=schema)
    return top_k_per_group(
        partials,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        rank_col="rank",
    )


def exact_cosine_pairs_arrow(
    a_side: DataFrame,
    b_side: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    max_a_rows: int = 100_000,
    what: str = "exact_cosine_pairs a",
) -> DataFrame:
    """Exact (id_a, id_b, cosine >= threshold, id_a < id_b) pairs via
    one closure-shipped BLAS matmul per corpus batch (r14, guide §4.2 /
    §8: decide with a small broadcast matrix, stream the big side once).

    Replaces the broadcast cross-join + per-pair interpreted-HOF dot
    (~26M lambda dispatches for 400k dim-64 pairs; measured 2.0 s ->
    0.58 s at sf0.1, values verified IDENTICAL at every SF — numpy and
    the JVM fold agree at the 6dp rounding on real-valued embeddings,
    the same equivalence knn_arrow's oracle already pins). The a-side
    is collected under the same explicit size contract the cross-join
    form enforced (``_collect_bounded``: raises past ``max_a_rows``
    instead of OOMing); the b-side is scanned once, no join, no
    shuffle — output rows only.

    Zero-norm semantics match ``cosine_from_norms``: denom <= 0 scores
    0.0 (dropped by any positive threshold). Vectors must be non-null
    (generator/data contract, as in every Arrow kernel here).

    Rounding note (r15, ADVICE): ``np.round`` is half-to-even on the
    binary double while the no-numpy cross-join fallback's ``F.round``
    is HALF_UP on the shortest decimal repr — on a measure-zero 6dp tie
    the two paths can differ (and a tie AT the threshold could flip a
    pair). This numpy path is the semantic source of truth wherever
    numpy is installed; the fallback's divergence class is the same
    engine-dependent tie ``_avg4_cents`` documents for the oracles.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id_a", a_side.schema[id_col].dataType, False),
            T.StructField("id_b", b_side.schema[id_col].dataType, False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )
    a_rows = _collect_bounded(
        a_side.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")),
        max_a_rows,
        what,
    )
    if not a_rows:
        # r15 (ADVICE): an empty a-side made np.array([]) 1-D and the
        # einsum/matmul below raised where the cross-join fallback
        # returns an empty result — return the same empty frame
        return a_side.sparkSession.createDataFrame([], schema)
    # r15 (ADVICE): derive the id dtype from the data instead of
    # forcing int64 — integral ids still ride as int64, but a string
    # or other non-integral id column keeps numpy's inferred dtype so
    # the id_a < id_b compare and the pandas round-trip stay faithful
    # to the column type
    a_ids = np.array([r["__id"] for r in a_rows])
    if a_ids.dtype.kind in ("i", "u"):
        a_ids = a_ids.astype(np.int64)
    a_mat = np.array([r["__v"] for r in a_rows], dtype=np.float64)
    a_nrm = np.sqrt(np.einsum("ij,ij->i", a_mat, a_mat))
    vc, ic = vec_col, id_col

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            b_ids = pdf[ic].to_numpy()
            b_mat = np.array(list(pdf[vc]), dtype=np.float64)
            b_nrm = np.sqrt(np.einsum("ij,ij->i", b_mat, b_mat))
            dots = a_mat @ b_mat.T
            denom = np.outer(a_nrm, b_nrm)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, dots / denom, 0.0)
            cos = np.round(cos, 6)
            ia, ib = np.nonzero(
                (a_ids[:, None] < b_ids[None, :]) & (cos >= threshold)
            )
            yield pd.DataFrame(
                {"id_a": a_ids[ia], "id_b": b_ids[ib], "cosine": cos[ia, ib]}
            )

    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        _ensure_min_parallelism,
    )

    return _ensure_min_parallelism(
        b_side.select(F.col(ic), F.col(vc)), ic
    ).mapInPandas(_score, schema=schema)


def auto_lsh_params(
    n_rows: int,
    dim: int = 64,
    recall_at: float = 0.99,
    target_recall: float = 0.95,
    cand_per_row: float = 0.2,
    min_planes: int = 4,
    max_planes: int = 48,
    min_tables: int = 4,
    max_tables: int = 16,
) -> tuple[int, int]:
    """Corpus-size-aware sign-LSH parameters: (n_planes, n_tables).

    Fixed plane counts do not survive scale: random-pair candidates are
    ~C(n,2) * n_tables * 2^-n_planes, so any fixed ``n_planes`` goes
    quadratic once n grows past 2^n_planes — the one measured deviation
    in the r4 500k stress tier (2.86M candidates for ~10k true pairs).
    This derives ``n_planes ~ log2(n * n_tables / cand_per_row)`` so
    expected RANDOM candidates stay <= ``cand_per_row * n`` (linear in
    the corpus), with a correction for the finite-dim "Jensen boost":
    random cosines fluctuate ~N(0, 1/dim), and E[(1/2 + c/pi)^p] ~
    2^-p * exp(2 p^2 / (pi^2 dim)) > 2^-p, so the effective selectivity
    of p planes is p - 2 p^2 / (pi^2 dim ln 2) bits, not p.

    ``n_tables`` then compensates recall: a pair at cosine
    ``recall_at`` agrees with a random hyperplane w.p.
    1 - acos(recall_at)/pi, collides per table w.p. that^n_planes, and
    needs ceil(ln(1-target_recall)/ln(1-collide)) tables to be caught
    with probability ``target_recall``. When that many tables exceeds
    ``max_tables``, planes are cut back until the recall target fits —
    recall wins over the candidate bound, because for LOW similarity
    targets (recall_at <~ 0.7) sign bits barely separate matches from
    the random background and a near-quadratic candidate set is the
    honest physics, not a tuning failure.

    ``recall_at`` is the cosine at which recall is targeted — for dedup
    that is the true-duplicate similarity (~0.99+), NOT the admission
    threshold: LSH recall exactly at the threshold boundary is
    inherently soft.
    """
    import math

    p_keep = 1.0 - math.acos(min(max(recall_at, -1.0), 1.0)) / math.pi
    if p_keep <= 0.0 or p_keep >= 1.0:
        return min_planes, min_tables

    def _planes_for_candidates(tables: int) -> int:
        target_bits = math.log2(
            max(n_rows, 2) * tables / (2.0 * cand_per_row)
        )
        for p in range(min_planes, max_planes + 1):
            eff = p - 2.0 * p * p / (math.pi**2 * dim * math.log(2))
            if eff >= target_bits:
                return p
        return max_planes

    # largest p whose recall target is reachable within max_tables
    min_collide = 1.0 - math.exp(math.log(1.0 - target_recall) / max_tables)
    p_recall_cap = max(
        min_planes, math.floor(math.log(min_collide) / math.log(p_keep))
    )

    tables = min_tables
    planes = min_planes
    for _ in range(8):  # tiny fixed point: planes need tables, and back
        p_new = min(_planes_for_candidates(tables), p_recall_cap)
        collide = p_keep**p_new
        t_new = max(
            min_tables,
            math.ceil(
                math.log(max(1.0 - target_recall, 1e-12))
                / math.log(max(1.0 - collide, 1e-12))
            ),
        )
        t_new = min(t_new, max_tables)
        if (p_new, t_new) == (planes, tables):
            break
        planes, tables = p_new, t_new
    return planes, tables


def auto_ivf_centroids(n_rows: int, cap: int = 4096) -> int:
    """Corpus-size-aware IVF cell count: ~sqrt(n)/4 (cells of ~4*sqrt(n)
    rows), floored at 16 and capped so the driver-side k-means sample
    stays cheap. A fixed cell count means cells grow linearly with the
    corpus and per-query scoring degrades linearly — cells must scale
    ~sqrt(n) for per-query cost ~sqrt(n)."""
    return max(16, min(cap, round(n_rows**0.5 / 4)))


def auto_ivf_probe(n_centroids: int, frac: float = 0.008, floor: int = 4) -> int:
    """Cell-count-aware probe width: a constant FRACTION of cells
    (default 0.8%), floored at 4. A fixed ``n_probe`` silently erodes
    recall as the corpus grows: cells scale ~sqrt(n)
    (``auto_ivf_centroids``), so probing a constant 4 cells shrinks
    the probed fraction — measured on the scale-stress corpus, recall@10
    was 0.996-1.0 through 5M rows (4/559 = 0.7% of cells) but fell to
    0.874 at 50M rows where 4/1768 = 0.23% (SCALE_STRESS_r10). Holding
    the fraction keeps per-query cost growing ~sqrt(n) overall (cells
    probed x rows per cell) while recall stays flat; pass an explicit
    ``n_probe`` to trade either way."""
    return max(floor, round(frac * n_centroids))


def _train_ivf_centroids(
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    n_centroids: int | str,
    kmeans_iters: int,
    sample_limit: int,
):
    """Spherical k-means coarse quantizer trained on a deterministic
    driver-side hash sample; returns the (n_centroids, dim) unit-row
    matrix. The sample is a xxhash64-mod pick, never a storage-order
    prefix, and is capped at ~64 rows/centroid — collecting 100k
    vectors and iterating k-means on them driver-side was the measured
    bottleneck of the 500k stress tier."""
    import numpy as np

    n_corpus = corpus.count()
    if n_centroids == "auto":
        n_centroids = auto_ivf_centroids(n_corpus)
    ids_vecs = corpus.select(
        F.col(corpus_id).alias("i"), F.col(corpus_vec).alias("v")
    )
    train_limit = min(sample_limit, max(5_000, 64 * n_centroids))
    if n_corpus > train_limit:
        # keep ~train_limit rows spread uniformly by id hash; fixed
        # seed (the hash itself) keeps reruns identical
        modulus = -(-n_corpus // train_limit)  # ceil
        ids_vecs = ids_vecs.filter(
            F.pmod(F.xxhash64(F.col("i")), F.lit(modulus)) == 0
        )
    # one wave, all partitions (r14): a bare limit().collect() runs
    # CollectLimitExec's scale-up schedule (1 partition, then x4 per
    # wave) — ~4 underparallelized jobs whenever the input holds fewer
    # rows than the limit, which is exactly the trained-sample shape
    # here; same fix _collect_bounded carries (measured 3x there, r11)
    from projet_5spar_sparkstreaming_spark.session import scoped_conf

    with scoped_conf(
        ids_vecs.sparkSession, {"spark.sql.limit.initialNumPartitions": "4096"}
    ):
        sample = ids_vecs.select("v").limit(train_limit).collect()
    mat = np.array([r["v"] for r in sample], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
    rng = np.random.RandomState(42)
    cent = mat[rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)]
    for _ in range(kmeans_iters):  # spherical k-means on the sample
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(len(cent)):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cent[c] = m / max(np.linalg.norm(m), 1e-300)
    return cent


def _pandas_row_chunks(pdf, vec_col: str, extra_cols: int = 0, max_bytes: int = 8 << 20):
    """Row chunks of a pandas batch bounded by VECTOR payload bytes —
    the mapInPandas twin of ``dedup._bounded_batch_slices``. A
    row-bounded batch (10k rows) of dim-4096 embeddings is a ~330MB
    float64 matrix per task (plus any per-row derived matrix of width
    ``extra_cols``); chunking by estimated bytes keeps kernel
    transients ~tens of MB at any dimensionality."""
    n = len(pdf)
    if n == 0:
        return
    dim = len(pdf[vec_col].iloc[0]) + extra_cols
    rows = max(1, int(max_bytes / max(dim * 8, 1)))
    if rows >= n:
        yield pdf
        return
    for s in range(0, n, rows):
        yield pdf.iloc[s : s + rows]


def _assign_ivf_cells(
    corpus: DataFrame,
    cent,
    corpus_id: str,
    corpus_vec: str,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(__cid, __cell, __cv, *passthrough): each corpus row labeled with
    its nearest centroid — one distributed Arrow pass, the quantizer
    closed over. ``passthrough`` columns ride the pass verbatim (kept
    under their own names), so callers that need extra row attributes
    downstream (e.g. rebuild's ``batch_id``) never re-join on ``id`` —
    an id equi-join would FAN OUT rows when ids repeat across batches
    (at-least-once upstreams deliver the same id in two batches)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    cell_schema = T.StructType(
        [
            T.StructField("__cid", corpus.schema[corpus_id].dataType, False),
            T.StructField("__cell", T.IntegerType(), False),
            T.StructField("__cv", corpus.schema[corpus_vec].dataType, False),
        ]
        + [T.StructField(c, corpus.schema[c].dataType, True) for c in passthrough]
    )
    cidc, cvecc, extra = corpus_id, corpus_vec, tuple(passthrough)

    def _assign_corpus(batches):
        for pdf0 in batches:
            # payload-bounded row chunks (see dedup._bounded_batch_slices):
            # the (rows x dim) matrix plus the (rows x cells) distance
            # matrix must stay tens-of-MB per task at ANY dim/cell count
            for pdf in _pandas_row_chunks(pdf0, cvecc, extra_cols=len(cent)):
                m = np.array(list(pdf[cvecc]), dtype=np.float64)
                m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
                cells = np.argmax(m @ cent.T, axis=1).astype(np.int32)
                out = {"__cid": pdf[cidc], "__cell": cells, "__cv": pdf[cvecc]}
                for c in extra:
                    out[c] = pdf[c]
                yield pd.DataFrame(out)

    return _ensure_min_parallelism(
        corpus.select(cidc, cvecc, *extra), cidc
    ).mapInPandas(_assign_corpus, cell_schema)


def build_ivf_index(
    corpus: DataFrame,
    index_path: str,
    corpus_id: str,
    corpus_vec: str = "embedding",
    n_centroids: int | str = "auto",
    kmeans_iters: int = 5,
    sample_limit: int = 100_000,
    batch_id: int = 0,
    expected_rows: int | None = None,
) -> int:
    """Persist an IVF index: the corpus cell-assigned and written as
    parquet PARTITIONED BY (cell, batch_id) under the ``data`` subtree,
    plus the quantizer in ``_centroids.json``. Build once, query many —
    ``query_ivf_index`` reads only the probed cells, so a query against
    a 100 TB index scans n_probe cells, not the corpus. Centroids are
    seed-deterministic: rebuilds produce the identical index.

    ``expected_rows`` sizes the quantizer for the corpus the index will
    GROW to (cells are pinned at build) and is recorded as
    ``sized_for_rows``, the denominator of ``needs_ivf_rebuild``. Grow
    with ``append_to_ivf_index``, bound small files with
    ``compact_ivf_index``, retrain with ``rebuild_ivf_index``; the
    shared lifecycle is ``operators/stored_index.py``'s. Returns the
    cell count."""
    if n_centroids == "auto" and expected_rows is not None:
        n_centroids = auto_ivf_centroids(int(expected_rows))
    # the quantizer training pays a count + a sample collect and the
    # index write pays an assignment pass — cache the corpus so those
    # three actions read one materialization, not three input scans
    corpus = corpus.cache()
    cent = _train_ivf_centroids(
        corpus, corpus_id, corpus_vec, n_centroids, kmeans_iters, sample_limit
    )
    si.build(
        corpus.sparkSession,
        IVF,
        index_path,
        batch_id,
        lambda: _write_ivf_batch(
            corpus, index_path, corpus_id, corpus_vec, cent, batch_id
        ),
        lambda n_rows: dict(
            centroids=cent.tolist(),
            sized_for_rows=n_rows if expected_rows is None else int(expected_rows),
        ),
    )
    corpus.unpersist()
    return len(cent)


def _stored_cell_rows(vecs, cent, id_col, vec_col, passthrough=()) -> DataFrame:
    """``_assign_ivf_cells`` output in the store's (id, cell, vec) layout."""
    return _assign_ivf_cells(vecs, cent, id_col, vec_col, passthrough).select(
        F.col("__cid").alias("id"), F.col("__cell").alias("cell"),
        F.col("__cv").alias("vec"), *passthrough,
    )


def _ivf_data_dir(spark, index_path: str, version: int) -> str:
    """Resolve the IVF data tree for ``version``, with a LEGACY
    fallback: indexes persisted before the versioned-subtree layout
    kept their ``cell=*/batch_id=*`` hive dirs at the index ROOT (next
    to ``_centroids.json``) and carry no ``version`` key in meta —
    when version 0's ``{index}/data`` subtree is absent but the root
    holds ``cell=`` dirs, resolve to the root so pre-existing indexes
    keep querying/appending/compacting without a rebuild (r8 advice)."""
    p = fsio.versioned_subdir(index_path, "data", version)
    if version == 0 and not fsio.path_exists(spark, p):
        base = index_path.rstrip("/")
        if any(n.startswith("cell=") for n in fsio.list_dir(spark, base)):
            return base
    return p


IVF = si.IndexSpec(
    family="IVF",
    meta_name="_centroids.json",
    subs=("data",),
    partition_cols=("cell", "batch_id"),
    rewrite_keys=("cell", "batch_id"),
    dim=lambda meta: len((meta.get("centroids") or [[]])[0]),
    data_dir=lambda spark, index_path, sub, version: _ivf_data_dir(
        spark, index_path, version
    ),
)


def _write_ivf_batch(
    vecs: DataFrame,
    index_path: str,
    id_col: str,
    vec_col: str,
    cent,
    batch_id: int,
    version: int = 0,
) -> int:
    """Cell-assign one batch with quantizer ``cent`` and write it under
    (cell, batch_id) hive partitions of the version-``version`` data
    subtree via DYNAMIC partition overwrite — a replayed batch replaces
    exactly its own (cell, batch) partitions, never another batch's
    rows. Returns the batch row count, ridden on the write as an
    ``observe`` metric — one execution of the input plan per append,
    no separate count job."""
    from pyspark.sql import Observation

    obs = Observation()
    assigned = (
        _stored_cell_rows(vecs, cent, id_col, vec_col)
        .withColumn("batch_id", F.lit(int(batch_id)))
        .observe(obs, F.count(F.lit(1)).alias("rows"))
        # REBALANCE on the hive-partition keys: each task otherwise
        # fans its rows across every cell dir (partitions x cells
        # sliver files per batch); rebalancing clusters rows by cell so
        # each (cell, batch) partition gets AQE-sized files instead.
        .hint("rebalance", "cell", "batch_id")
    )
    (
        assigned.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell", "batch_id")
        .parquet(_ivf_data_dir(vecs.sparkSession, index_path, version))
    )
    return int(obs.get["rows"])


def append_to_ivf_index(
    vecs: DataFrame,
    index_path: str,
    id_col: str,
    vec_col: str = "embedding",
    batch_id: int = 1,
) -> int:
    """Append a batch to a stored IVF index (``stored_index.append``):
    vectors are cell-assigned with the STORED quantizer (one Arrow pass
    over the batch — the index is neither read nor re-assigned) and
    land in their own (cell, batch_id) partitions, so replays replace
    themselves. Cells grow with the corpus under the fixed quantizer
    until ``needs_ivf_rebuild`` says to retrain. Returns the batch row
    count."""

    def write(meta: dict, version: int) -> int:
        cent = np.array(meta["centroids"], dtype=np.float64)
        return _write_ivf_batch(
            vecs, index_path, id_col, vec_col, cent, batch_id, version=version
        )

    return si.append(vecs.sparkSession, IVF, index_path, batch_id, write)


def _backfill_sized_for_rows(meta: dict) -> None:
    """LEGACY metas predate ``sized_for_rows``, and after a merge the
    min-batch count is a sum of many batches. Estimate it by inverting
    ``auto_ivf_centroids`` (cells ~ sqrt(n)/4) at the stored cell count,
    CLAMPED to the store's current total: the inversion assumes an
    auto-derived cell count, and an explicit or capped one (4096 cells
    inverts to ~268M rows) would suppress the rebuild trigger
    indefinitely. An underestimate merely re-arms the trigger early."""
    if "sized_for_rows" not in meta:
        inverted = (4 * len(meta["centroids"])) ** 2
        meta["sized_for_rows"] = max(1, min(inverted, si.stored_rows(meta)))


def compact_ivf_index(
    spark,
    index_path: str,
    keep_last: int = 1,
    target_partitions: int | None = None,
) -> dict:
    """Small-file compaction for an appended-to IVF index — same
    contract as ``compact_minhash_index`` (``stored_index.compact``);
    the quantizer inside the meta is untouched. A legacy root-layout
    index migrates into ``data_v1`` and its retired root ``cell=*``
    dirs are dropped after the flip (no grace copy: that layout
    predates reader-safe versioning). Returns the updated meta."""

    def retire_legacy_root(old_version: int) -> None:
        base = index_path.rstrip("/")
        if old_version == 0:
            for name in fsio.list_dir(spark, base):
                if name.startswith("cell="):
                    fsio.delete_path(spark, f"{base}/{name}")

    return si.compact(
        spark, IVF, index_path, keep_last, target_partitions,
        before_flip=_backfill_sized_for_rows, after_flip=retire_legacy_root,
    )


def rebuild_ivf_index(
    spark,
    index_path: str,
    n_centroids: int | str = "auto",
    kmeans_iters: int = 5,
    sample_limit: int = 100_000,
    target_partitions: int | None = None,
) -> dict:
    """RETRAIN a grown IVF index's quantizer from its own stored
    vectors (``stored_index.rebuild``) — appends assign with the
    quantizer pinned at build, so cells grow with the corpus and probe
    cost with them; ``needs_ivf_rebuild`` says when, this says how, and
    no caller has to keep the raw corpus: the stored ``(id, vec)`` rows
    ARE the corpus. New centroids (``"auto"`` sized from the stored
    total) re-assign every vector into the next version with
    ``batch_id`` carried through; (centroids, version) flip in one meta
    write and ``sized_for_rows`` restarts at the current total. Returns
    the updated meta."""

    def retrain(meta, stored, total_rows, write) -> dict:
        cells = auto_ivf_centroids(total_rows) if n_centroids == "auto" else n_centroids
        cent = _train_ivf_centroids(
            stored, "id", "vec", cells, kmeans_iters, sample_limit
        )
        # batch_id rides THROUGH the assignment pass, never re-joined
        # on id: at-least-once upstreams deliver one id in two batches,
        # and an id equi-join would fan those rows out on every rebuild
        write("data", _stored_cell_rows(stored, cent, "id", "vec", ("batch_id",)))
        return {"centroids": cent.tolist()}

    return si.rebuild(spark, IVF, index_path, "data", retrain, target_partitions)


def needs_ivf_rebuild(meta: dict | None, growth_factor: float = 4.0) -> bool:
    """The mechanical rebuild-when-outgrown decision the append path's
    docs defer to, as a pure metadata predicate (no store scan, no
    Spark job): True when the stored row total has outgrown what the
    quantizer was SIZED for by ``growth_factor`` (the ~4x rule —
    cells scale ~sqrt(n), so at 4x rows a fresh quantizer would want
    ~2x the cells and per-query scoring inside the old mega-cells has
    doubled). ``sized_for_rows`` is written by build (its
    ``expected_rows`` when given, else the seed batch's count) and
    reset by every rebuild.

    LEGACY metas (persisted before the field existed) return False:
    after a compaction the min-batch count is a sum of many batches, so
    any sizing inferred from it is inflated. The predicate declines
    until the next compaction (``_backfill_sized_for_rows``) or rebuild
    stamps the field."""
    sized_for = (meta or {}).get("sized_for_rows")
    return bool(sized_for) and si.stored_rows(meta) >= growth_factor * int(sized_for)


def query_ivf_index(
    spark,
    queries: DataFrame,
    index_path: str,
    query_id: str,
    query_vec: str = "embedding",
    k: int = 10,
    n_probe: int | str = "auto",
    exclude_self: bool = True,
    max_query_rows: int = 100_000,
    route: str = "auto",
    brute_cutoff_rows: int = 2_000_000,
) -> DataFrame:
    """Approximate top-k against a stored IVF index (``build_ivf_index``):
    probe cells come from the persisted quantizer; the parquet scan
    carries an ``isin`` filter on the PARTITION column, so only the
    probed cells' files are listed and read (plan-asserted in tests).
    Same result contract (and, with identical build parameters, the
    identical result) as ``ivf_top_k``.

    ``route`` (r10 verdict task 1): ``"ivf"`` = the probe path above;
    ``"brute"`` = exact cosine over the SAME stored vectors
    (``brute_force_top_k_arrow`` on the full data tree — identical
    output contract, recall 1.0 by construction); ``"auto"`` = pick by
    the store size recorded in the meta (free): at or below
    ``brute_cutoff_rows`` the one-matmul-per-Arrow-batch exact kernel
    beats the probe's fixed costs (centroid load + driver probe fanout
    + per-cell directory listing) at EVERY measured batch size, so
    small stores route to brute; above it the probe's O(probed cells)
    scan wins and grows its lead with the store (measured crossover:
    brute 2.0/2.6 s vs probe 2.8/3.0 s at 500k rows; probe 4.5-6.5 s
    vs brute 12.5-17.6 s at 5M; 9-19 s vs 112-131 s at 50M — see
    ``tools/ivf_crossover.py``, IVF_CROSSOVER_r11.json).

    The ``route="auto", n_probe="auto"`` defaults replaced
    ``route="ivf", n_probe=4`` (see MIGRATION.md); benchmarks measuring
    the probe path itself pin both knobs."""
    from pyspark.sql import types as T

    meta = si.require_meta(spark, IVF, index_path)
    cent = np.array(meta["centroids"], dtype=np.float64)
    if route not in ("ivf", "brute", "auto"):
        raise ValueError(f"route must be ivf|brute|auto, got {route!r}")
    if route == "auto":
        route = "brute" if si.stored_rows(meta) <= brute_cutoff_rows else "ivf"
    data_dir = _ivf_data_dir(spark, index_path, int(meta.get("version", 0)))
    # the meta-recorded schema skips per-scan footer inference
    reader = si.reader(spark, meta, "data").option("basePath", data_dir)
    if route == "brute":
        stored = reader.parquet(data_dir)
        return brute_force_top_k_arrow(
            queries,
            stored,
            query_id,
            "id",
            query_vec=query_vec,
            corpus_vec="vec",
            k=k,
            exclude_self=exclude_self,
            max_query_rows=max_query_rows,
        )
    if n_probe == "auto":
        # constant probed FRACTION of the stored quantizer's cells —
        # a fixed width erodes recall as the index grows (see
        # auto_ivf_probe)
        n_probe = auto_ivf_probe(len(cent))

    q_rows = _collect_bounded(
        queries.select(F.col(query_id).alias("qid"), F.col(query_vec).alias("qv")),
        max_query_rows,
        "queries",
    )
    probe_rows = []
    for r in q_rows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-300)
        for c in np.argsort(-(cent @ qv))[:n_probe]:
            probe_rows.append((r["qid"], int(c), list(map(float, r["qv"]))))
    probe_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id].dataType, False),
            T.StructField("__cell", T.IntegerType(), False),
            T.StructField("__qv", queries.schema[query_vec].dataType, False),
        ]
    )
    q_probes = spark.createDataFrame(probe_rows, probe_schema)

    probed_cells = sorted({c for _, c, _ in probe_rows})
    # Probe-bounded LISTING, not just probe-bounded reading: a plain
    # read.parquet(data_dir) discovers the ENTIRE cell=* partition tree
    # before pruning, so probe cost grows with the number of cells even
    # though the pruned data doesn't (measured 1.5x going 62 -> 625
    # cells; at 100 TB with 10^4-10^5 cells the listing would dominate
    # every query). Reading the probed cells' dirs explicitly under a
    # basePath keeps `cell` a partition column while listing O(n_probe)
    # directories; one names-only list_dir bounds it against absent
    # cells (empty under a fresh quantizer). The isin filter stays as
    # the in-plan pruning witness (PartitionFilters INSET, test-pinned).
    from projet_5spar_sparkstreaming_spark.fsio import list_dir

    existing = {
        int(n.split("=", 1)[1])
        for n in list_dir(spark, data_dir)
        if n.startswith("cell=")
    }
    cell_paths = [f"{data_dir}/cell={c}" for c in probed_cells if c in existing]
    index = (
        (reader.parquet(*cell_paths) if cell_paths else reader.parquet(data_dir))
        .filter(F.col("cell").isin(probed_cells))
        .select(
            F.col("id").alias("__cid"),
            F.col("cell").cast("int").alias("__cell"),
            F.col("vec").alias("__cv"),
        )
    )
    cand = F.broadcast(
        q_probes.withColumn("__qn", l2_norm("__qv"))
    ).join(index.withColumn("__cn", l2_norm("__cv")), "__cell")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("__cid"))
    scored = cand.select(
        "query_id",
        F.col("__cid").alias("neighbor_id"),
        F.round(
            cosine_from_norms("__qv", "__cv", "__qn", "__cn"), 6
        ).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        rank_col="rank",
    )


def ivf_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_centroids: int | str = 16,
    n_probe: int | str = 4,
    kmeans_iters: int = 5,
    sample_limit: int = 100_000,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer,
    corpus bucketed by nearest centroid, queries probe the ``n_probe``
    nearest cells, exact cosine re-scoring within probed cells.

    The quantizer trains on a driver-side sample (deterministic seed) —
    at 100 TB that sample is still tiny; the expensive parts (assignment
    and scoring) stay distributed: one Arrow pass to assign cells, one
    equi-join on cell id. Cost scales with n_probe/n_centroids of the
    corpus per query instead of all of it.

    The training sample is a deterministic HASH sample (xxhash64 of the
    id modulo a rate derived from the corpus count), not a storage-order
    prefix — a ``limit(n)`` sample is whatever rows the first scanned
    files hold, which on a partitioned/sorted 100 TB corpus is a single
    skewed slice and trains centroids that don't cover the space.

    ``n_centroids="auto"`` scales cells ~sqrt(n)/4 with the corpus
    (``auto_ivf_centroids``) — a fixed cell count degrades linearly as
    the corpus grows past n_centroids * target_cell_size.
    ``n_probe="auto"`` probes a constant fraction of the cells
    (``auto_ivf_probe``) — a fixed width erodes recall as cells scale
    (measured 0.996 -> 0.874 going 5M -> 50M rows at n_probe=4).
    """
    import numpy as np
    from pyspark.sql import types as T

    # r15 (guide §2.6): the quantizer training (count job + sample
    # collect + driver k-means) and the query-side collect are
    # independent driver-blocking work — overlapped on threads so the
    # BUILD phase pays one round of job-wave latency, not three
    # sequential ones (r14 verdict task 8; each job's content — and so
    # the trained centroids and collected rows — is bit-identical to
    # the sequential form). The limit conf is scoped around the whole
    # section: both inner scoped_conf uses set the same value, so the
    # nesting is race-free.
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        _parallel_actions,
    )
    from projet_5spar_sparkstreaming_spark.session import scoped_conf

    res: dict = {}

    def _train() -> None:
        res["cent"] = _train_ivf_centroids(
            corpus, corpus_id, corpus_vec, n_centroids, kmeans_iters,
            sample_limit,
        )

    def _queries() -> None:
        res["q_rows"] = _collect_bounded(
            queries.select(
                F.col(query_id).alias("qid"), F.col(query_vec).alias("qv")
            ),
            sample_limit,
            "queries",
        )

    with scoped_conf(
        queries.sparkSession,
        {"spark.sql.limit.initialNumPartitions": "4096"},
    ):
        _parallel_actions(_train, _queries)
    cent, q_rows = res["cent"], res["q_rows"]
    if n_probe == "auto":
        n_probe = auto_ivf_probe(len(cent))
    bucketed = _assign_ivf_cells(corpus, cent, corpus_id, corpus_vec)
    probe_rows = []
    for r in q_rows:
        qv = np.asarray(r["qv"], dtype=np.float64)
        qv /= max(np.linalg.norm(qv), 1e-300)
        cells = np.argsort(-(cent @ qv))[:n_probe]
        for c in cells:
            probe_rows.append((r["qid"], int(c), list(map(float, r["qv"]))))
    probe_schema = T.StructType(
        [
            T.StructField("query_id", queries.schema[query_id].dataType, False),
            T.StructField("__cell", T.IntegerType(), False),
            T.StructField("__qv", queries.schema[query_vec].dataType, False),
        ]
    )
    q_probes = queries.sparkSession.createDataFrame(probe_rows, probe_schema)

    # norms once per probe row / corpus row, not per candidate pair
    cand = F.broadcast(
        q_probes.withColumn("__qn", l2_norm("__qv"))
    ).join(bucketed.withColumn("__cn", l2_norm("__cv")), "__cell")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("__cid"))
    scored = cand.select(
        "query_id",
        F.col("__cid").alias("neighbor_id"),
        F.round(
            cosine_from_norms("__qv", "__cv", "__qn", "__cn"), 6
        ).alias("cosine"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        rank_col="rank",
    )


def _hyperplanes(dim: int, n_planes: int, table: int) -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed per table)."""
    rng = np.random.RandomState(42 + table)
    return rng.randn(n_planes, dim).astype(float).tolist()


def _bucket_expr(vec_col: str, planes: list[list[float]]):
    """Sign-bit bucket id of a vector against a set of hyperplanes —
    native expressions only (dot via zip_with over a literal array)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), lit_plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def _lsh_buckets_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    id_alias: str,
    n_planes: int,
    n_tables: int,
    dim: int,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(id, __bucket) rows for ALL tables via one Arrow matmul: the
    (rows x dim) batch against the stacked (n_tables*n_planes x dim)
    hyperplane matrix, sign bits packed per table. Replaces
    n_tables*n_planes interpreted per-plane dot-product expressions
    per row (~50x fewer evaluator dispatches); bucket ids are identical
    to ``_bucket_expr`` (same hyperplane seeds, same bit packing).
    ``passthrough`` columns ride the pass verbatim (repeated per table,
    like the id) — rebuilds carry ``batch_id`` this way instead of
    re-joining on id, which would fan out ids repeated across batches.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    planes = np.concatenate(
        [np.asarray(_hyperplanes(dim, n_planes, t)) for t in range(n_tables)]
    )  # (n_tables*n_planes, dim)
    weights = (1 << np.arange(n_planes, dtype=np.int64))  # bit packing
    offsets = (np.arange(n_tables, dtype=np.int64) << n_planes)

    schema = T.StructType(
        [
            T.StructField(id_alias, df.schema[id_col].dataType, False),
            T.StructField("__bucket", T.LongType(), False),
        ]
        + [T.StructField(c, df.schema[c].dataType, True) for c in passthrough]
    )
    idc, vecc, extra = id_col, vec_col, tuple(passthrough)

    def _bucketize(batches):
        for pdf0 in batches:
            # payload-bounded row chunks: (rows x dim) input and
            # (rows x tables*planes) bit matrices stay tens-of-MB per
            # task at any dim (see _pandas_row_chunks)
            for pdf in _pandas_row_chunks(pdf0, vecc, extra_cols=len(planes)):
                m = np.array(list(pdf[vecc]), dtype=np.float64)  # (N, dim)
                bits = (m @ planes.T) > 0  # (N, tables*planes)
                per_table = bits.reshape(len(m), n_tables, n_planes)
                buckets = (per_table * weights[None, None, :]).sum(
                    axis=2
                ) + offsets[None, :]  # (N, tables)
                ids = np.repeat(pdf[idc].to_numpy(), n_tables)
                out = {id_alias: ids, "__bucket": buckets.reshape(-1)}
                for c in extra:
                    out[c] = np.repeat(pdf[c].to_numpy(), n_tables)
                yield pd.DataFrame(out)

    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        _ensure_min_parallelism,
    )

    return _ensure_min_parallelism(df.select(idc, vecc, *extra), idc).mapInPandas(
        _bucketize, schema
    )


def _cosine_verify_arrow(joined: DataFrame, threshold: float) -> DataFrame:
    """Score (id_a, id_b, __va, __vb) candidate rows with one numpy
    pass per Arrow batch: cosine rounded to 6, filtered by threshold.
    Zero-norm vectors guard to 1e-300 like ``l2_norm``-based scoring
    (cosine 0 against anything)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id_a", joined.schema["id_a"].dataType, False),
            T.StructField("id_b", joined.schema["id_b"].dataType, False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )

    def _score(batches):
        from projet_5spar_sparkstreaming_spark.operators.dedup import (
            _bounded_batch_slices,
        )

        for batch0 in batches:
            for batch in _bounded_batch_slices(batch0, "__va"):
                if batch.num_rows == 0:  # reshape(0, -1) is ill-defined
                    continue
                names = batch.schema.names
                cols = {n: batch.column(i) for i, n in enumerate(names)}

                def _mat(arr):
                    if isinstance(arr, pa.ChunkedArray):
                        arr = arr.combine_chunks()
                    n_rows = len(arr)
                    flat = arr.flatten().to_numpy(zero_copy_only=False)
                    return np.asarray(flat, dtype=np.float64).reshape(n_rows, -1)

                va = _mat(cols["__va"])
                vb = _mat(cols["__vb"])
                dots = np.einsum("ij,ij->i", va, vb)
                na = np.maximum(np.linalg.norm(va, axis=1), 1e-300)
                nb = np.maximum(np.linalg.norm(vb, axis=1), 1e-300)
                cos = np.round(dots / (na * nb), 6)
                keep = np.nonzero(cos >= threshold)[0]
                idx = pa.array(keep, type=pa.int64())
                yield pa.RecordBatch.from_arrays(
                    [
                        cols["id_a"].take(idx),
                        cols["id_b"].take(idx),
                        pa.array(cos[keep], type=pa.float64()),
                    ],
                    ["id_a", "id_b", "cosine"],
                )

    return joined.select("id_a", "id_b", "__va", "__vb").mapInArrow(
        _score, schema=schema
    )


def _lsh_candidate_fence(
    op: str,
    est_pairs: float,
    budget: "int | str | None",
    n_rows: int,
) -> None:
    """Analytic pre-join candidate budget for the sign-LSH bucket joins
    (r14, forced by the sf10 decade sweep): at thresholds BELOW the
    corpus's background cosine the recall constraint pins planes to the
    floor and the bucket join's candidate volume goes quadratic — the
    text path's exact-join fence (``ngram_jaccard_pairs``) raises a
    designed error there, but the embed path had no fence and at 100x
    data it exhausted the spill disk instead of failing cleanly
    (BENCH_SF10_r14.json: incremental_embedding_pairs, SparkOutOfMemory
    "No space left on device" mid-sort).

    The estimate is pure arithmetic — ZERO extra Spark jobs: a random
    near-orthogonal pair collides in one table with probability
    ~(1/2)^planes (theta ~ pi/2), union-bounded over tables, so
    expected candidates ~ tables * 2^-planes * pairs. That bound is
    deliberately slightly conservative (union bound; ignores
    dedupDuplicates) — the right direction for a fence. ``"auto"``
    budget = max(3e8, 128 * n): 3e8 candidates is the measured safe
    side on this host (the sf1 decade's 1.66e8 at threshold 0.3 runs
    in ~70 s; the sf10 incremental case's 1.3e9 died), and the linear
    term keeps genuinely huge corpora at dedup thresholds unaffected
    (their planes scale ~log2 n, estimate ~cand_per_row * n)."""
    if budget is None:
        return
    cap = (
        max(300_000_000, 128 * n_rows)
        if budget == "auto"
        else int(budget)
    )
    if est_pairs > cap:
        raise RuntimeError(
            f"{op} candidate budget exceeded: the analytic "
            f"orthogonal-background bound estimates ~{est_pairs:,.0f} "
            f"bucket-join candidates (budget {cap:,}, "
            f"max_candidate_pairs={budget!r}). The threshold sits at or "
            "below the corpus's background cosine, where sign-LSH "
            "planes pin to the recall floor and candidates are "
            "quadratic by information-theoretic necessity. Raise the "
            "threshold to dedup grade (0.8+), set max_bucket_size to "
            "collapse duplication-grade buckets, or pass a larger / "
            "None max_candidate_pairs to force the join."
        )


# pairs per candidate-dedup task: ~2M (id_a, id_b) longs is ~100 MB of
# aggregation hash map — comfortably in one task's execution-memory
# share at any sane concurrency, large enough that tasks aren't slivers
_PAIRS_PER_DEDUP_TASK = 2_000_000
# below this many pairs a task is a sliver: the parallelism floor only
# engages while tasks still carry >= this much work (measured at sf0.1:
# spreading a 1.4e6-pair dedup+verify over the cores beat both the
# single-task funnel, 1.6 vs 3.5 s, AND the legacy inherited shape,
# 1.6 vs 2.1 s; at sf0.001's ~1e4-pair estimate one task is right)
_MIN_PAIRS_PER_TASK = 50_000


def _sized_pair_dedup(cand: DataFrame, est_pairs: float | None) -> DataFrame:
    """Dedup an exploding bucket-join's candidate stream with an
    exchange SIZED FROM THE ANALYTIC PAIR ESTIMATE instead of inherited
    scan parallelism (r14 verdict task 1, guide §2.2/§5).

    The raw candidate stream is the bucket join's output: its stage
    inherits the SCAN's partition count, which has nothing to do with
    pair volume — at sf1 a 5 MB embeddings scan split 10 ways put ten
    concurrent partial-agg hash maps over ~1.4e8 candidates into one
    executor's memory pool and every one of them hit the sort/spill
    fallback (measured 2x: 52 s -> 102 s when openCostInBytes moved the
    scan from 2 to 10 splits). Duplicate multiplicity across tables is
    low (~1.2x at dedup thresholds), so map-side partial dedup shrinks
    almost nothing and its hash maps are pure memory pressure.

    The fix: hash-repartition the raw pairs by (id_a, id_b) into
    ``ceil(est / _PAIRS_PER_DEDUP_TASK)`` partitions (fixed count — AQE
    coalescing would size from the MEMBERS bytes it sees upstream, not
    the exploded pair count) and dedup after the exchange, where every
    task owns a bounded, right-sized slice. The join stage itself no
    longer aggregates — it streams pairs straight into shuffle writers.
    The count is floored at the session's default parallelism while
    tasks still carry >= _MIN_PAIRS_PER_TASK pairs (scale-adaptive, not
    a local constant: on a cluster defaultParallelism is the executor
    core total) — the dedup feeds the Arrow verify stage directly, so
    an exchange sized purely by memory budget would funnel a
    cores-wide verify onto a handful of tasks at mid scales. Capped at
    65536 (a 100 TB dedup-grade corpus estimates ~1e11 candidates;
    2e6/task would want 5e4 partitions — past that the M x R shuffle
    block count, guide §2.2, costs more than task-size perfection).
    When no row count is in hand (explicit params, no budget) the
    caller's existing shape is preserved unchanged."""
    if est_pairs is None:
        return cand.dropDuplicates(["id_a", "id_b"])
    base = cand.sparkSession.sparkContext.defaultParallelism
    parts = int(
        min(
            65536,
            max(
                -(-est_pairs // _PAIRS_PER_DEDUP_TASK),
                min(base, -(-est_pairs // _MIN_PAIRS_PER_TASK)),
                1,
            ),
        )
    )
    return cand.repartition(parts, "id_a", "id_b").dropDuplicates(
        ["id_a", "id_b"]
    )


def cosine_near_dup_pairs(
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str = "embedding",
    threshold: float = 0.9,
    n_planes: int | str = 6,
    n_tables: int | str = 8,
    dim: int = 64,
    max_bucket_size: int | None = None,
    verify: bool = True,
    recall_at: float | None = None,
    target_recall: float = 0.95,
    cand_per_row: float = 0.2,
    max_candidate_pairs: int | str | None = "auto",
) -> DataFrame:
    """Embedding-cosine near-dup PAIRS (id_a, id_b, cosine >= threshold)
    — the embedding twin of ``minhash_near_dup_pairs``: sign-LSH buckets
    generate candidates (union over ``n_tables`` tables; high-cosine
    pairs land in the same bucket with probability
    (1 - theta/pi)^n_planes per table), then candidates are verified
    with the exact cosine. The bucket self-join carries IDs only; the
    vectors re-join on the DEDUPED pair set (same shuffle-bytes lesson
    as the minhash banding join, SCALE.md). No stage is quadratic in
    the corpus — the plan for "drop embedding-duplicates from 100 TB".

    Recall grows with n_tables and shrinks with threshold distance;
    pair recall against the exact join is test-enforced
    (`tests/test_operators.py`).

    The residual quadratic risk is the same one minhash banding has
    (operators/dedup.py:minhash_near_dup_pairs): a k-member group of
    (near-)identical vectors — or a tight semantic cluster when the
    threshold sits below the cluster's internal cosine — shares every
    bucket and emits k^2/2 candidates. ``max_bucket_size`` drops
    buckets holding more than that many vectors before the self-join
    can fan out (occupancy rides the bucket-key shuffle the join needs
    anyway); such buckets are duplication-grade mass better collapsed
    by exact/fingerprint dedup upstream. None (default) keeps every
    bucket.

    ``verify=False`` returns the raw deduped candidate set (id_a, id_b)
    without the exact-cosine verify join — the minhash-parity hook for
    measuring candidate volume at scale.

    ``n_planes="auto"``/``n_tables="auto"`` derive both knobs from the
    corpus COUNT via ``auto_lsh_params`` (one extra count job — noise
    next to the pipeline): planes scale ~log2(n) so random-pair
    candidates stay linear in the corpus, tables compensate recall at
    ``recall_at`` (default max(threshold, 0.99) — the true-duplicate
    cosine for dedup thresholds). Fixed plane counts measurably go
    quadratic at the 500k stress tier; auto is the 100 TB setting.

    ``max_candidate_pairs`` (r14, forced by the sf10 sweep): the
    analytic candidate fence — see ``_lsh_candidate_fence``. Active
    whenever a corpus count is already in hand (auto params) or the
    caller passed a NUMERIC budget (which buys the count); ``None``
    disables, and the "auto"-budget-with-explicit-params combination
    skips silently (no free count to estimate from).
    """
    n_count = None
    if n_planes == "auto" or n_tables == "auto":
        n_count = corpus.count()
        n_planes, n_tables = auto_lsh_params(
            n_count,
            dim=dim,
            recall_at=(
                recall_at if recall_at is not None else max(threshold, 0.99)
            ),
            target_recall=target_recall,
            cand_per_row=cand_per_row,
        )
    if max_candidate_pairs is not None and n_count is None and not isinstance(
        max_candidate_pairs, str
    ):
        n_count = corpus.count()  # numeric budget buys the count
    est_cand = (
        n_tables * 0.5 ** n_planes * n_count * (n_count - 1) / 2
        if n_count is not None
        else None
    )
    if max_candidate_pairs is not None and est_cand is not None:
        _lsh_candidate_fence(
            "cosine_near_dup_pairs", est_cand, max_candidate_pairs, n_count
        )
    ids_vecs = corpus.select(
        F.col(corpus_id).alias("__id"), F.col(corpus_vec).alias("__v")
    )
    try:
        import numpy  # noqa: F401

        banded = _lsh_buckets_arrow(
            corpus, corpus_id, corpus_vec, "__id", n_planes, n_tables, dim
        )
    except ImportError:
        buckets = F.array(
            *[
                _bucket_expr("__v", _hyperplanes(dim, n_planes, t))
                + F.lit(t << n_planes).cast("long")
                for t in range(n_tables)
            ]
        )
        banded = ids_vecs.withColumn("__bucket", F.explode(buckets)).select(
            "__id", "__bucket"
        )
    if max_bucket_size is not None:
        from pyspark.sql import Window

        occ_w = Window.partitionBy("__bucket")
        banded = (
            banded.withColumn("__occ", F.count(F.lit(1)).over(occ_w))
            .filter(F.col("__occ") <= max_bucket_size)
            .drop("__occ")
        )
    # cached for the same reason minhash caches its signature table:
    # the bucket SELF-join needs the banded rows on both sides, and a
    # broadcast side is a separate physical subtree — without the cache
    # the Arrow bucketize stage executes twice per action
    banded = banded.cache()
    a = banded.alias("a")
    b = banded.alias("b")
    cand = _sized_pair_dedup(
        a.join(
            b,
            (F.col("a.__bucket") == F.col("b.__bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        ).select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")),
        est_cand,
    )
    if not verify:
        return cand
    try:
        import numpy  # noqa: F401

        # Arrow verify: candidate volume at permissive thresholds is
        # O(n^2 / 2^planes) and each interpreted zip_with dot costs
        # ~100x a numpy row — one (N, dim) elementwise product per
        # Arrow batch scores every candidate at once. The joins still
        # run on the DEDUPED pair set, so shuffle bytes are unchanged.
        joined = cand.join(
            ids_vecs.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va")),
            "id_a",
        ).join(
            ids_vecs.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb")),
            "id_b",
        )
        return _cosine_verify_arrow(joined, threshold)
    except ImportError:
        pass
    # Norms ride the side tables (computed once per row, not per
    # candidate pair): the verify stage pays one dot product per
    # candidate — same doubles as cosine_similarity, 4x fewer
    # interpreted array passes (vectors.py:cosine_from_norms).
    va = ids_vecs.select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        l2_norm("__v").alias("__nva"),
    )
    vb = ids_vecs.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        l2_norm("__v").alias("__nvb"),
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                cosine_from_norms("__va", "__vb", "__nva", "__nvb"), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_incremental_pairs(
    new_vecs: DataFrame,
    index_vecs: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int | str = "auto",
    n_tables: int | str = "auto",
    dim: int = 64,
    recall_at: float | None = None,
    target_recall: float = 0.95,
    verify: bool = True,
    max_candidate_pairs: int | str | None = "auto",
) -> DataFrame:
    """Embedding near-dup pairs ACROSS two corpora (id_a from
    ``new_vecs``, id_b from ``index_vecs``) — the daily-crawl shape for
    embedding dedup, mirroring ``minhash_incremental_pairs``: the index
    side is never self-joined, so checking a small new batch against a
    100 TB embedding index costs one bucketize pass per side plus a
    bucket equi-join. In production the index side's bucket table is
    precomputed and stored (hyperplanes are seed-deterministic), so a
    daily run pays only the new batch's bucketize + the join.

    Auto parameters derive from the INDEX size (the side that drives
    random-collision volume). Equal ids across sides are legitimate
    matches (different corpora). ``verify=True`` exact-scores
    candidates with the Arrow batch kernel and filters by threshold.

    ``max_candidate_pairs`` (r14): the analytic candidate fence — see
    ``_lsh_candidate_fence``. THIS operator is the one the fence was
    built for: at sf10 (100x data) its threshold-0.3 catalog twin's
    candidate join exhausted the spill disk mid-sort instead of
    failing cleanly (BENCH_SF10_r14.json). The cross-corpus estimate
    needs the new side's count too — one extra count job on the small
    batch side, noise next to the join it gates; ``None`` disables,
    and the "auto"-budget-with-explicit-params combination skips
    (preserves the count-free explicit path, e.g. the stored-index
    recompute profile).
    """
    n_index = None
    if n_planes == "auto" or n_tables == "auto":
        n_index = index_vecs.count()
        n_planes, n_tables = auto_lsh_params(
            n_index,
            dim=dim,
            recall_at=(
                recall_at if recall_at is not None else max(threshold, 0.99)
            ),
            target_recall=target_recall,
        )
    if max_candidate_pairs is not None and n_index is None and not isinstance(
        max_candidate_pairs, str
    ):
        n_index = index_vecs.count()  # numeric budget buys the count
    est_cand = None
    if n_index is not None:
        n_new = new_vecs.count()
        est_cand = n_tables * 0.5 ** n_planes * n_new * n_index
        if max_candidate_pairs is not None:
            _lsh_candidate_fence(
                "cosine_incremental_pairs",
                est_cand,
                max_candidate_pairs,
                n_new + n_index,
            )
    a = _lsh_buckets_arrow(new_vecs, id_col, vec_col, "id_a", n_planes, n_tables, dim)
    b = _lsh_buckets_arrow(
        index_vecs, id_col, vec_col, "id_b", n_planes, n_tables, dim
    )
    cand = _sized_pair_dedup(a.join(b, "__bucket").select("id_a", "id_b"), est_cand)
    if not verify:
        return cand
    joined = cand.join(
        new_vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")),
        "id_a",
    ).join(
        index_vecs.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
        ),
        "id_b",
    )
    return _cosine_verify_arrow(joined, threshold)


EMBED_LSH = si.IndexSpec(
    family="embedding LSH",
    meta_name="_meta.json",
    subs=("buckets", "vecs"),
    partition_cols=("batch_id",),
    rewrite_keys=("batch_id", "id"),
    dim=lambda meta: int(meta.get("dim") or 0),
)


def read_embed_lsh_meta(spark, index_path: str) -> dict | None:
    """The embedding index's ``_meta.json`` (pinned LSH params +
    per-batch row counts), or None when absent
    (``stored_index.read_meta``)."""
    return si.read_meta(spark, EMBED_LSH, index_path)


def _write_embed_batch(
    vecs: DataFrame,
    index_path: str,
    id_col: str,
    vec_col: str,
    n_planes: int,
    n_tables: int,
    dim: int,
    batch_id: int,
    version: int = 0,
) -> int:
    """One batch's (id, bucket) rows + raw vectors into the
    version-``version`` data subtree's ``batch_id=N`` subdirs
    (``stored_index.write_batch``: the bucket pass and the vecs copy
    overlap over the same input). Returns the batch row count."""
    return si.write_batch(
        index_path,
        version,
        batch_id,
        {
            "buckets": _lsh_buckets_arrow(
                vecs, id_col, vec_col, "id", n_planes, n_tables, dim
            ),
            "vecs": vecs.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec")),
        },
        counted="vecs",
    )


def build_embed_lsh_index(
    vecs: DataFrame,
    index_path: str,
    id_col: str,
    vec_col: str = "embedding",
    n_planes: int | str = "auto",
    n_tables: int | str = "auto",
    dim: int = 64,
    recall_at: float = 0.99,
    target_recall: float = 0.95,
    expected_rows: int | None = None,
    batch_id: int = 0,
) -> dict:
    """Persist a sign-LSH embedding near-dup index: ``buckets/
    batch_id=N/`` (id, per-table packed bucket) and ``vecs/batch_id=N/``
    (id, vec) plus ``_meta.json`` pinning (n_planes, n_tables, dim).
    Hyperplanes are seed-deterministic (``_hyperplanes``), so stored
    buckets and any later query's buckets agree by construction —
    queries bucketize only THEIR side and equi-join the store.

    LSH parameters are pinned for the life of the index (stored bucket
    ids depend on them), so ``"auto"`` sizes them from
    ``expected_rows`` — the index size you intend to GROW to — falling
    back to 1024x the seed batch when unset. The sizing and the recall
    targets it was derived under are recorded for
    ``needs_embed_lsh_rebuild``/``rebuild_embed_lsh_index``. The shared
    lifecycle is ``operators/stored_index.py``'s. Returns the meta."""
    auto = n_planes == "auto" or n_tables == "auto"
    # the sizing count forces an extra scan of the input — cache it so
    # the two index writes below read the materialized batch
    own_cache = auto and expected_rows is None
    if own_cache:
        vecs = vecs.cache()
    sized_for = expected_rows
    if auto:
        sized_for = expected_rows or max(vecs.count(), 1) * 1024
        n_planes, n_tables = auto_lsh_params(
            sized_for, dim=dim, recall_at=recall_at, target_recall=target_recall
        )
    meta = si.build(
        vecs.sparkSession,
        EMBED_LSH,
        index_path,
        batch_id,
        lambda: _write_embed_batch(
            vecs, index_path, id_col, vec_col, n_planes, n_tables, dim,
            batch_id,
        ),
        lambda n_rows: dict(
            n_planes=int(n_planes), n_tables=int(n_tables), dim=dim,
            sized_for_rows=int(sized_for) if sized_for else n_rows,
            recall_at=float(recall_at), target_recall=float(target_recall),
        ),
    )
    if own_cache:
        vecs.unpersist()
    return meta


def append_to_embed_lsh_index(
    vecs: DataFrame,
    index_path: str,
    id_col: str,
    vec_col: str = "embedding",
    batch_id: int = 0,
) -> int:
    """Append a batch to a stored embedding index
    (``stored_index.append``) — params from the meta, O(batch) cost
    (the store is neither read nor re-bucketized), idempotent under
    replay. Returns the batch row count."""

    def write(meta: dict, version: int) -> int:
        return _write_embed_batch(
            vecs, index_path, id_col, vec_col,
            meta["n_planes"], meta["n_tables"], meta["dim"], batch_id,
            version=version,
        )

    return si.append(vecs.sparkSession, EMBED_LSH, index_path, batch_id, write)


def embed_lsh_query_index(
    new_vecs: DataFrame,
    index_path: str,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.9,
    verify: bool = True,
    max_batch_id_exclusive: int | None = None,
    broadcast_new: bool = True,
    max_bucket_size: int | None = None,
    small_store_rows: int = 100_000,
) -> DataFrame:
    """Near-dup pairs of a new vector batch against a STORED embedding
    LSH index: bucketize the batch with the index's pinned params, one
    bucket equi-join against the stored (id, bucket) table, exact-cosine
    verify against the stored vectors — the index side is scanned, never
    re-bucketized. Same semantics as ``cosine_incremental_pairs`` at
    the same params (test-enforced). ``max_batch_id_exclusive`` is the
    streaming replay guard (``stored_index.scan``).

    ``broadcast_new`` (default on — this path's contract IS
    small-batch-vs-big-store): broadcast the batch's bucket rows and
    the candidate+batch-vector set through the index-side joins so the
    stored buckets/vecs scans stream map-side with zero index-side
    shuffle (the Arrow-derived probe side has no size statistics, so
    the planner would otherwise sort-merge-join, shuffling the whole
    store per query — see ``minhash_query_index``). Disable for
    probe batches too large to broadcast (millions of vectors — use
    ``cosine_incremental_pairs`` there).

    ``max_bucket_size`` bounds the forced candidate broadcast against
    boilerplate-heavy stores (k near-identical stored vectors in one
    bucket make cand O(probe_rows x k), and the mandatory hint bypasses
    autoBroadcastJoinThreshold): stored buckets over the cap are
    dropped before the candidate join via a broadcast anti-join of the
    (rare) over-cap keys — lossy by design, zero index-side shuffle,
    same contract as ``minhash_query_index``'s knob.

    ``small_store_rows`` routes the VERIFY stage by store size (read
    from the meta's batch row counts — free): the forced
    broadcast-the-candidates verify plan exists to keep a LARGE stored
    ``vecs`` table from being shuffled per query, but it costs two
    serial driver round-trips (materialize + broadcast cand, then the
    probe vectors), which at a small store is pure overhead — measured
    2.9 s vs 1.5 s against the 2k-vector bench store, a 1.9x
    inversion vs the recompute twin. At or below the threshold the
    verify joins are left to the planner (shuffling a sub-100k-row
    store is trivial; AQE broadcasts the small sides itself from real
    stats); above it the pinned broadcast plan is unchanged. The
    probe-side bucket broadcast in the CANDIDATE join stays in both
    regimes — the probe is small by this path's contract."""
    spark = new_vecs.sparkSession
    meta = si.require_meta(spark, EMBED_LSH, index_path)
    a = _lsh_buckets_arrow(
        new_vecs, id_col, vec_col, "id_a",
        meta["n_planes"], meta["n_tables"], meta["dim"],
    )
    if broadcast_new:
        a = F.broadcast(a)
    b = si.scan(spark, index_path, meta, "buckets", max_batch_id_exclusive).select(
        F.col("id").alias("id_b"), "__bucket"
    )
    if max_bucket_size is not None:
        over = (
            b.groupBy("__bucket")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("__bucket")
        )
        b = b.join(F.broadcast(over), ["__bucket"], "left_anti")
    cand = a.join(b, "__bucket").select("id_a", "id_b").dropDuplicates(
        ["id_a", "id_b"]
    )
    if not verify:
        return cand
    new_va = new_vecs.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    stored_vb = si.scan(spark, index_path, meta, "vecs", max_batch_id_exclusive).select(
        F.col("id").alias("id_b"), F.col("vec").alias("__vb")
    )
    # ADVICE r10: the routing must size the store the query actually
    # scans — with max_batch_id_exclusive set, batches >= it are
    # filtered out of both scans, so counting them would route a
    # small-prefix query of a large store onto the forced-broadcast
    # large-store plan (and the converse at the boundary).
    store_rows = sum(
        int(v)
        for k, v in (meta.get("batches") or {}).items()
        if max_batch_id_exclusive is None
        or int(k) < max_batch_id_exclusive
    )
    if broadcast_new and store_rows > small_store_rows:
        # NARROW pair set broadcast into the big stored-vecs scan (the
        # index streams map-side), then the small batch's vectors
        # broadcast into the result — index-side vectors never sit in
        # a broadcast (at real dims a cand-with-vectors broadcast OOMs)
        joined = F.broadcast(cand).join(stored_vb, "id_b").join(
            F.broadcast(new_va), "id_a"
        )
    else:
        joined = cand.join(new_va, "id_a").join(stored_vb, "id_b")
    return _cosine_verify_arrow(joined, threshold)


def compact_embed_lsh_index(
    spark,
    index_path: str,
    keep_last: int = 1,
    target_partitions: int | None = None,
) -> dict:
    """Small-file compaction for the embedding index — same contract as
    ``compact_minhash_index`` (``stored_index.compact``); the whole-store
    rewrite scans the wide vecs under a reader batch size sized for the
    meta's ``dim``. Returns the updated meta."""
    return si.compact(spark, EMBED_LSH, index_path, keep_last, target_partitions)


def needs_embed_lsh_rebuild(meta: dict | None, min_extra_planes: int = 1) -> bool:
    """Rebuild-when-outgrown for the embed-LSH family, as a pure
    metadata predicate (twin of ``needs_ivf_rebuild``): True when
    ``auto_lsh_params`` at the CURRENT stored total wants at least
    ``min_extra_planes`` more planes than the index was built with.
    Plane counts scale ~log2(n) — a store grown far past what its
    parameters were sized for drifts toward quadratic random-collision
    candidates (the measured r4 failure mode: 2.86M candidates for
    ~10k true pairs at 500k rows under a fixed plane count), and the
    plane-count comparison is exactly the criterion the sizing math
    itself uses. Each +1-plane trigger fires on ~2x growth, so
    rebuild cost is geometric/amortized."""
    total = si.stored_rows(meta)
    if not total:
        return False
    # re-derive under the SAME recall sizing the index was built with
    # (persisted in the meta since r13); indexes persisted before the
    # fields existed get the build-time defaults they were sized under
    p_auto, _ = auto_lsh_params(
        total, dim=int(meta.get("dim", 64)),
        recall_at=float(meta.get("recall_at", 0.99)),
        target_recall=float(meta.get("target_recall", 0.95)),
    )
    return p_auto >= int(meta["n_planes"]) + min_extra_planes


def rebuild_embed_lsh_index(
    spark,
    index_path: str,
    n_planes: int | str = "auto",
    n_tables: int | str = "auto",
    recall_at: float | None = None,
    target_recall: float | None = None,
    target_partitions: int | None = None,
) -> dict:
    """RETRAIN a grown embed-LSH index's parameters from its own stored
    vectors (``stored_index.rebuild``) — the embed-family twin of
    ``rebuild_ivf_index``. Re-derives (n_planes, n_tables) at the
    CURRENT stored total (``auto_lsh_params``) under the recall sizing
    the index was built with unless overridden, re-buckets every stored
    vector with the new hyperplane stack (``batch_id`` carried THROUGH
    the Arrow pass, never re-joined on id) and copies the vecs tree into
    the next version; params and version flip in one meta write, and
    appends and queries pick the new params up from the meta. Returns
    the updated meta."""

    def retrain(meta, stored, total_rows, write) -> dict:
        dim = int(meta["dim"])
        # the recall sizing the index was BUILT under, unless overridden
        r_at = meta.get("recall_at", 0.99) if recall_at is None else recall_at
        t_rec = target_recall
        if t_rec is None:
            t_rec = meta.get("target_recall", 0.95)
        planes, tables = n_planes, n_tables
        if planes == "auto" or tables == "auto":
            planes, tables = auto_lsh_params(
                total_rows, dim=dim, recall_at=r_at, target_recall=t_rec
            )
        write(
            "buckets",
            _lsh_buckets_arrow(
                stored, "id", "vec", "id", planes, tables, dim,
                passthrough=("batch_id",),
            ),
        )
        write("vecs", stored)
        return dict(
            n_planes=int(planes), n_tables=int(tables),
            recall_at=float(r_at), target_recall=float(t_rec),
        )

    return si.rebuild(
        spark, EMBED_LSH, index_path, "vecs", retrain, target_partitions
    )


def lsh_bucketed_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_planes: int = 4,
    n_tables: int = 12,
    dim: int = 64,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate cosine top-k via multi-table sign-LSH.

    Candidates = union over tables of same-bucket pairs; exact cosine
    re-scoring on candidates only; top-k per query. Recall grows with
    ``n_tables``; candidate cost shrinks with ``n_planes``.

    Shuffle discipline: the bucket join and pair dedup flow (id, bucket)
    only — embedding vectors re-join on the DEDUPED candidate set (same
    shuffle-bytes property as the minhash banding join, SCALE.md;
    test-enforced for the pair operators). At fixed bucket occupancy the
    candidate set is corpus-size-independent per query, so the re-join
    is small.
    """
    def with_buckets(df: DataFrame, id_alias: str, vec_alias: str, idc: str, vecc: str):
        try:
            import numpy  # noqa: F401

            return _lsh_buckets_arrow(
                df, idc, vecc, id_alias, n_planes, n_tables, dim
            )
        except ImportError:
            out = df.select(F.col(idc).alias(id_alias), F.col(vecc).alias(vec_alias))
            buckets = F.array(
                *[
                    _bucket_expr(vec_alias, _hyperplanes(dim, n_planes, t))
                    + F.lit(t << n_planes).cast("long")
                    for t in range(n_tables)
                ]
            )
            return out.withColumn("__bucket", F.explode(buckets)).select(
                id_alias, "__bucket"
            )

    q = with_buckets(queries, "query_id", "__qv", query_id, query_vec)
    c = with_buckets(corpus, "neighbor_id", "__cv", corpus_id, corpus_vec)
    cand = q.select("query_id", "__bucket").join(
        c.select("neighbor_id", "__bucket"), "__bucket"
    )
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    cand = cand.select("query_id", "neighbor_id").dropDuplicates(
        ["query_id", "neighbor_id"]
    )
    # scoring stays interpreted-expression here ON PURPOSE: per-query
    # candidates are bounded by bucket occupancy x tables (small by
    # design), and the Arrow batch-scoring path was MEASURED slower at
    # this volume (1.28s -> 1.62s at sf0.1) — the python stage
    # round-trip costs more than the interpreted dots it replaces. The
    # near-dup verify (_cosine_verify_arrow) is the opposite regime:
    # its candidate volume is O(n^2/2^planes).
    # norms once per row, not per candidate — see cosine_from_norms
    qv = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        l2_norm(query_vec).alias("__qn"),
    )
    cv = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        l2_norm(corpus_vec).alias("__cn"),
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_from_norms("__qv", "__cv", "__qn", "__cn"), 6
            ).alias("cosine"),
        )
    )
    return top_k_per_group(
        scored,
        ["query_id"],
        [F.col("cosine").desc(), F.col("neighbor_id").asc()],
        k=k,
        rank_col="rank",
    )
