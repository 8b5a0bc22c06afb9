"""Streaming deduplication (T7 — absent in reference; its dedup was
batch-only, reference: src/batch_clean_historical.py).

``dropDuplicatesWithinWatermark`` keys state on the dedup columns and
evicts per the watermark — bounded state at any scale, versus a naive
``dropDuplicates`` on a stream whose state grows forever.

The near-dup ingest guards below are index-backed: the accumulated
index stores SIGNATURES and band/bucket rows (deterministic functions
of the data), not raw payloads, so a micro-batch pays one signature
pass over ITSELF plus a bucket equi-join against the stored bands — a
columnar scan, never a re-signature of the index. Per-batch compute is
O(batch + candidates); the only index-sized work is the equi-join
scan, which is the same shape a 100 TB daily batch run pays
(operators/dedup.py:minhash_query_index).
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from projet_5spar_sparkstreaming_spark import fsio
from projet_5spar_sparkstreaming_spark.operators import dedup as od
from projet_5spar_sparkstreaming_spark.operators import similarity as sim
from projet_5spar_sparkstreaming_spark.operators import stored_index
from projet_5spar_sparkstreaming_spark.session import wide_vector_scope
from projet_5spar_sparkstreaming_spark.streaming.sinks import foreach_batch_sink


def stream_dedup(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop duplicate events by key within the watermark horizon."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def require_index_meta_consistent(spark, index_dir: str, meta) -> None:
    """Refuse to treat an index whose data is on disk but whose meta
    read came back None as "no index": that state is either the
    transient no-file instant of a concurrent crash-safe meta swap
    (``fsio.write_json``) or a crashed mid-life mutation — in both
    cases rebuilding would DELETE the accumulated store (builds start
    with a recursive delete). Raising makes the micro-batch fail and
    RETRY from the checkpoint instead; an operator restores the meta
    (its ``.old`` aside survives a mid-swap crash) if the state
    persists.

    ONE exception: data-present/meta-None *under the sibling
    ``{index}.building`` marker* is a build that crashed between its
    first write and its meta — that data was never acknowledged (its
    micro-batch is exactly the one being replayed) and there is no
    ``.old`` aside to restore, so raising would wedge the retry loop.
    The marker proves it is safe to fall through to the build, whose
    initial recursive delete clears the debris."""
    if (
        meta is None
        and fsio.path_exists(spark, index_dir)
        and not fsio.build_marker_present(spark, index_dir)
    ):
        raise IOError(
            f"{index_dir}: index data present but its metadata read "
            "returned None — transient meta swap or crashed mutation. "
            "Refusing to rebuild over existing data; retry the batch "
            "or restore the metadata file (check its .old aside)."
        )


def _guard_meta(spark, spec, index_dir: str) -> dict | None:
    """Steps 1-2 of a guard micro-batch: ONE meta read (shared with the
    batch plan, whose parameters come from it), checked by
    ``require_index_meta_consistent``."""
    meta = stored_index.read_meta(spark, spec, index_dir)
    require_index_meta_consistent(spark, index_dir, meta)
    return meta


def _guard_step(
    spark,
    spec,
    index_dir: str,
    batch_id: int,
    meta: dict | None,
    build,
    append,
    survivors=None,
    out_dir: str | None = None,
    outgrown=None,
    rebuild=None,
) -> None:
    """Steps 3-5 of a guard micro-batch, shared by the three ingest
    guards: build the index from the first batch (after writing its
    ``survivors`` — the plan has no cross-batch leg yet), otherwise
    append, then ``rebuild()`` when ``outgrown(meta)`` says the store
    has outgrown its parameters.

    The survivors write (dedup guards) overlaps the append: both read
    the same cached batch, so the micro-batch pays one round of fixed
    job cost. On a FRESH batch the append only CREATES ``batch_id=N``
    files, which the survivors plan prunes via its ``batch_id < N``
    filter. A REPLAY — the meta holds the batch, or its ``batch_id=N``
    dir is on disk from an append killed before its meta write —
    overwrites, i.e. DELETES, the crashed attempt's files, so the plan
    (and its file listing) is built before the append starts."""

    def write_survivors(df: DataFrame) -> None:
        out = os.path.join(out_dir, f"batch_id={batch_id}")
        df.write.mode("overwrite").parquet(out)

    if meta is None:
        if survivors is not None:
            write_survivors(survivors())
        build()
        return

    def grow() -> None:
        append()
        if outgrown is not None and outgrown(
            stored_index.read_meta(spark, spec, index_dir)
        ):
            rebuild()

    if survivors is None:
        grow()
    elif stored_index.batch_written(spark, spec, index_dir, meta, batch_id):
        planned = survivors()
        od._parallel_actions(lambda: write_survivors(planned), grow)
    else:
        od._parallel_actions(lambda: write_survivors(survivors()), grow)


def _admit(batch: DataFrame, id_col: str, batch_id: int, meta, cross, within):
    """The admission rule of ``minhash_ingest_batch``: drop the batch
    rows of ``cross()`` pairs (id_a, vs earlier batches) and the larger
    ids of ``within()`` pairs. No distinct over the drop set: left_anti
    ignores duplicate keys."""
    earlier = meta is not None and any(
        int(b) < batch_id for b in meta.get("batches", {})
    )
    # the cross leg is planned first: its plan lists the stored index
    cross_ids = cross().select(F.col("id_a").alias(id_col)) if earlier else None
    dropped = within().select(F.col("id_b").alias(id_col))
    if cross_ids is not None:
        dropped = cross_ids.unionByName(dropped)
    return batch.join(dropped, id_col, "left_anti")


def minhash_ingest_batch(
    batch: DataFrame,
    index_dir: str,
    batch_id: int,
    id_col: str,
    text_col: str,
    threshold: float,
    n: int | None = None,
    num_hashes: int | None = None,
    bands: int | None = None,
    precomputed_sig=None,
    meta: dict | None = None,
) -> DataFrame:
    """One micro-batch of the text near-dup ingest guard as a pure
    batch plan — factored out so tests can ``explain`` it: the index
    side must appear as parquet FileScans of ``{index}/bands`` and
    ``{index}/sigs`` (no text column, no index-side re-signature).
    ``precomputed_sig`` shares ONE batch signature table across the
    stored-index query and the within-batch self-join (the streaming
    guard also reuses it for the index append).

    Admission rule (deterministic, order-of-arrival):
      - drop a doc if it near-dups ANY document from an EARLIER batch
        (cross-batch, bucket equi-join vs the stored bands — strictly
        earlier: the ``batch_id < N`` filter keeps a crashed-then-
        replayed batch from matching its own previously written rows
        and silently dropping every doc), or a SMALLER-ID document in
        its own batch (within-batch self-join, min-id canonical);
      - ALL batch docs (kept or dropped) are appended to the index by
        the caller, so the rule is "near-dup of anything previously
        SEEN", not "previously KEPT".

    ``meta``: a pre-read ``_meta.json`` dict (the streaming guard
    passes the one it already loaded — one meta read per micro-batch,
    not two); None reads it here.

    Returns the surviving (id, text) rows."""
    if meta is None:
        meta = od.read_minhash_meta(batch.sparkSession, index_dir)
    if meta is not None:
        # Pin BOTH legs to the index's stored parameters: the cross-batch
        # query always uses the meta's hash space, so the within-batch
        # self-join must too, or two different threshold semantics would
        # apply. Explicit caller params that CONTRADICT the meta raise
        # (silently overriding them would also band a caller-built
        # precomputed_sig with the wrong num_hashes//bands — wrong
        # buckets, no error); None means "follow the index".
        for arg, key in ((n, "n"), (num_hashes, "num_hashes"), (bands, "bands")):
            if arg is not None and arg != meta[key]:
                raise ValueError(
                    f"minhash_ingest_batch: explicit {key}={arg} conflicts "
                    f"with the index's pinned {key}={meta[key]} at "
                    f"{index_dir}/_meta.json — the stored bands/sigs were "
                    f"built in that hash space; pass {key}=None (or the "
                    "meta value) and rebuild precomputed_sig accordingly"
                )
        n, num_hashes, bands = meta["n"], meta["num_hashes"], meta["bands"]
    else:
        n = 3 if n is None else n
        num_hashes = 64 if num_hashes is None else num_hashes
        bands = 16 if bands is None else bands
    return _admit(
        batch, id_col, batch_id, meta,
        lambda: od.minhash_query_index(
            batch, index_dir, id_col, text_col, threshold=threshold,
            max_batch_id_exclusive=batch_id, precomputed_sig=precomputed_sig,
        ),
        lambda: od.minhash_near_dup_pairs(
            batch, id_col, text_col,
            n=n, num_hashes=num_hashes, bands=bands, threshold=threshold,
            precomputed_sig=precomputed_sig,
        ),
    )


def stream_neardup_ingest(
    docs_stream: DataFrame,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    trigger: dict | None = None,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
):
    """NEAR-dup ingest guard for a document stream — the streaming twin
    of the daily-crawl dedup: each micro-batch is checked against the
    accumulated STORED index (band buckets + signatures, via
    ``minhash_query_index``), near-dup arrivals are dropped, and
    survivors land in ``out_dir``.

    Batch 0 builds the index (params pinned in ``_meta.json``; a stream
    resumed over an index built with other knobs follows the index);
    every later batch appends its signatures/bands under ``batch_id=N``
    (``_guard_step``: O(batch), replays overwrite their own subdir).
    ONE signature pass per micro-batch serves the stored-index query,
    the within-batch self-join and the append. Long-running streams
    bound their file count with ``compact_minhash_index``; replays are
    safe by the ``batch_id < N`` exclusion (``minhash_ingest_batch``)."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(id_col, text_col).cache()
        spark = batch.sparkSession
        meta = _guard_meta(spark, od.MINHASH, index_dir)
        src = meta or {"n": n, "num_hashes": num_hashes, "bands": bands}
        pinned = {k: src[k] for k in ("n", "num_hashes", "bands")}
        sig = od.minhash_signature_arrow(
            batch, id_col, text_col, pinned["n"], pinned["num_hashes"]
        ).cache()
        _guard_step(
            spark, od.MINHASH, index_dir, batch_id, meta,
            build=lambda: od.build_minhash_index(
                batch, index_dir, id_col, text_col,
                batch_id=batch_id, precomputed_sig=sig, **pinned,
            ),
            append=lambda: od.append_to_minhash_index(
                batch, index_dir, id_col, text_col, batch_id,
                precomputed_sig=sig,
            ),
            survivors=lambda: minhash_ingest_batch(
                batch, index_dir, batch_id, id_col, text_col, threshold,
                precomputed_sig=sig, meta=meta, **pinned,
            ),
            out_dir=out_dir,
        )
        sig.unpersist()
        batch.unpersist()

    os.makedirs(out_dir, exist_ok=True)
    return foreach_batch_sink(docs_stream, _process, checkpoint_dir, trigger)


def embed_ingest_batch(
    batch: DataFrame,
    index_dir: str,
    batch_id: int,
    id_col: str,
    vec_col: str,
    threshold: float,
    within_planes: int | str = "auto",
    within_tables: int | str = "auto",
    dim: int = 64,
    meta: dict | None = None,
) -> DataFrame:
    """One micro-batch of the embedding near-dup ingest guard as a pure
    batch plan (testable via ``explain``: the index side is parquet
    FileScans of ``{index}/buckets`` and ``{index}/vecs`` — stored
    bucket rows, never a re-bucketize of the index; LSH params and
    index size come from ``_meta.json``, never a per-batch ``count()``).
    Same admission rule as ``minhash_ingest_batch``. Within-batch
    params default to auto-from-batch-size (the batch IS the corpus
    being self-joined). Returns surviving (id, vec) rows."""
    if meta is None:
        meta = sim.read_embed_lsh_meta(batch.sparkSession, index_dir)
    return _admit(
        batch, id_col, batch_id, meta,
        lambda: sim.embed_lsh_query_index(
            batch, index_dir, id_col, vec_col, threshold=threshold,
            max_batch_id_exclusive=batch_id,
        ),
        lambda: sim.cosine_near_dup_pairs(
            batch, id_col, vec_col, threshold=threshold,
            n_planes=within_planes, n_tables=within_tables, dim=dim,
        ),
    )


def stream_embed_neardup_ingest(
    vecs_stream: DataFrame,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    trigger: dict | None = None,
    dim: int = 64,
    expected_index_rows: int | None = None,
    rebuild_when_outgrown: bool = False,
):
    """Embedding twin of ``stream_neardup_ingest``: each micro-batch
    bucketizes ITSELF with the index's pinned sign-LSH params, bucket-
    equi-joins the STORED (id, bucket) table, exact-cosine-verifies
    candidates against the stored vectors, drops near-dup arrivals
    (cross-batch strictly-earlier, or smaller-id within-batch), and
    appends its own buckets + vectors to the index (``_guard_step``).

    Batch 0 builds the index with params sized via
    ``expected_index_rows`` (the corpus the stream is expected to
    accumulate — pinned once because stored bucket ids depend on them;
    see ``build_embed_lsh_index``). The guard owns its batch's jobs, so
    it scopes the wide-vector reader batch size for the index's ``dim``.

    With ``rebuild_when_outgrown=True`` the guard runs
    ``rebuild_embed_lsh_index`` inside the micro-batch whenever
    ``needs_embed_lsh_rebuild`` trips after an append (auto params at
    the stored total want more planes than the index has — ~2x growth
    per trigger, so whole-store rewrites amortize geometrically). Leave
    False (default) when ``expected_index_rows`` already sized the
    params for the corpus the stream will accumulate."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(id_col, vec_col).cache()
        spark = batch.sparkSession
        meta = _guard_meta(spark, sim.EMBED_LSH, index_dir)
        with wide_vector_scope(spark, sim.EMBED_LSH.dim(meta) if meta else dim):
            _guard_step(
                spark, sim.EMBED_LSH, index_dir, batch_id, meta,
                build=lambda: sim.build_embed_lsh_index(
                    batch, index_dir, id_col, vec_col,
                    dim=dim, recall_at=max(threshold, 0.99),
                    expected_rows=expected_index_rows, batch_id=batch_id,
                ),
                append=lambda: sim.append_to_embed_lsh_index(
                    batch, index_dir, id_col, vec_col, batch_id
                ),
                survivors=lambda: embed_ingest_batch(
                    batch, index_dir, batch_id, id_col, vec_col, threshold,
                    dim=dim, meta=meta,
                ),
                out_dir=out_dir,
                outgrown=(
                    sim.needs_embed_lsh_rebuild if rebuild_when_outgrown else None
                ),
                rebuild=lambda: sim.rebuild_embed_lsh_index(spark, index_dir),
            )
        batch.unpersist()

    os.makedirs(out_dir, exist_ok=True)
    return foreach_batch_sink(vecs_stream, _process, checkpoint_dir, trigger)


def stream_ivf_ingest(
    vecs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger: dict | None = None,
    expected_index_rows: int | None = None,
    rebuild_growth_factor: float | None = None,
):
    """Maintain a persisted IVF ANN index from a vector stream — the
    third index family's streaming path (the dedup guards FILTER
    arrivals; this one serves them: every micro-batch's vectors become
    queryable through ``query_ivf_index`` as soon as the batch commits).

    Same micro-batch step as the dedup guards (``_guard_step``), minus
    the survivors: the first batch builds the index, training the
    quantizer on itself with cells sized by ``expected_index_rows``
    (cells are pinned at build; a quantizer sized for the seed batch
    would leave the grown index with mega-cells); later batches
    ``append_to_ivf_index`` into their own ``(cell, batch_id)``
    partitions via dynamic overwrite, so a replayed micro-batch
    replaces exactly itself. Bound small files with
    ``compact_ivf_index``.

    With ``rebuild_growth_factor`` set (the ~4x rule) the guard runs
    ``rebuild_ivf_index`` inside the micro-batch whenever
    ``needs_ivf_rebuild`` trips after an append: the retrained tree is
    written under the next version and (centroids, version) flip
    atomically, so concurrent queries see either geometry, never a
    mix. A crash mid-rebuild replays the batch: the append is
    idempotent, the policy re-trips, and the rebuild clears its own
    partial debris. Leave it ``None`` (default) to keep rebuilds an
    explicit operator action."""
    outgrown = None
    if rebuild_growth_factor is not None:
        outgrown = partial(sim.needs_ivf_rebuild, growth_factor=rebuild_growth_factor)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(id_col, vec_col)
        spark = batch.sparkSession
        _guard_step(
            spark, sim.IVF, index_dir, batch_id, _guard_meta(spark, sim.IVF, index_dir),
            build=lambda: sim.build_ivf_index(
                batch, index_dir, id_col, vec_col,
                batch_id=batch_id, expected_rows=expected_index_rows,
            ),
            append=lambda: sim.append_to_ivf_index(
                batch, index_dir, id_col, vec_col, batch_id
            ),
            outgrown=outgrown,
            rebuild=lambda: sim.rebuild_ivf_index(spark, index_dir),
        )

    return foreach_batch_sink(vecs_stream, _process, checkpoint_dir, trigger)
