"""One lifecycle for the three persisted index families: MinHash
(``operators/dedup.py``), embedding-LSH and IVF (``operators/similarity.py``).

Every store is hive-partitioned parquet data subtrees
(``{index}/{sub}`` at version 0, ``{index}/{sub}_v{N}`` after N
rewrites) plus one meta JSON file: the family's pinned parameters, the
per-batch row counts (``batches``), the ``version`` pointer and each
subtree's recorded ``schemas``. Readers resolve their paths through the
meta they loaded, and a rewrite keeps the version they read until the
next rewrite begins. Index size is a meta lookup, never a ``count()``.

Every mutation holds the cross-process ``fsio.writer_lease``, writes its
data inside ``guard_data_writes`` (a displaced holder's torn write
surfaces as ``LeaseLostError``) and calls ``lease.validate()`` (the
fence) right before its one meta ``write_json``:

- ``build``: ``.building`` marker up, recursive delete, batch write,
  meta at version 0, marker cleared — a crash in between leaves
  data-without-meta UNDER the marker, which the ingest guards may
  rebuild over (that data was never acknowledged).
- ``append``: the batch lands in its own ``batch_id=N`` partition of
  the live version (overwrite: a replay replaces itself). O(batch).
- ``compact``: all but the newest ``keep_last`` batches merge under the
  minimum merged id (every future ``batch_id < current`` replay filter
  still includes it) into the next version; query results are
  unchanged.
- ``rebuild``: every stored vector re-bucketed or re-assigned under
  retrained parameters into the next version, ``batch_id`` preserved;
  parameters and version flip in the same meta write.

Both rewrites shed orphan batches the meta never acknowledged (a kill
-9'd append's data; its replay re-delivers it) and abort at flip time if
the meta drifted (``require_no_meta_drift``). A family supplies an
``IndexSpec`` and, per call, its batch writer or re-bucket step; its
query kernels and rebuild predicate stay in its own module. ``fsio``
functions are looked up at call time: the crash and lease harnesses
place their kill barriers by replacing them.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from projet_5spar_sparkstreaming_spark import fsio


@dataclass(frozen=True)
class IndexSpec:
    """What a family's store looks like on disk.

    ``rewrite_keys`` cluster a rewrite's rows before the partitioned
    write: ``(batch_id, id)`` spreads each batch over many tasks,
    ``(cell, batch_id)`` keeps one file set per IVF cell. ``dim`` reads
    the vector width from the meta (0 = no vectors) to size the
    wide-vector reader for whole-store rewrites. ``data_dir(spark,
    index_path, sub, version)`` resolves a subtree's live directory
    (IVF adds its legacy-root fallback)."""

    family: str
    meta_name: str
    subs: tuple[str, ...]
    partition_cols: tuple[str, ...]
    rewrite_keys: tuple[str, ...]
    dim: Callable[[dict], int] = lambda meta: 0
    data_dir: Callable[..., str] = lambda spark, index_path, sub, version: (
        fsio.versioned_subdir(index_path, sub, version)
    )

    def meta_path(self, index_path: str) -> str:
        return f"{index_path.rstrip('/')}/{self.meta_name}"


def read_meta(spark, spec: IndexSpec, index_path: str) -> dict | None:
    """The index's meta, or None when the index does not exist — read
    through the Hadoop FileSystem (``fsio``), so existence agrees with
    wherever the parquet lives (a driver-local ``open()`` would report
    "no index" on object storage)."""
    return fsio.read_json(spark, spec.meta_path(index_path))


def require_meta(spark, spec: IndexSpec, index_path: str) -> dict:
    if (meta := read_meta(spark, spec, index_path)) is None:
        raise FileNotFoundError(f"no {spec.family} index at {index_path}")
    return meta


def stored_rows(meta: dict | None) -> int:
    """The store's row total, from the meta's per-batch counts."""
    return sum(int(v) for v in ((meta or {}).get("batches") or {}).values())


def reader(spark, meta: dict | None, sub: str):
    """``spark.read`` preloaded with the meta-recorded schema of data
    subtree ``sub``: a scan then skips the footer read and schema
    inference (~65 ms a scan, paid twice per guard micro-batch). Metas
    written before schema recording keep inferring."""
    from pyspark.sql import types as T

    sch = ((meta or {}).get("schemas") or {}).get(sub)
    if sch:
        return spark.read.schema(T.StructType.fromJson(json.loads(sch)))
    return spark.read


def scan(spark, index_path: str, meta: dict, sub: str, max_batch_id_exclusive=None):
    """Data subtree ``sub`` at the loaded meta's version, without its
    ``batch_id`` column; ``max_batch_id_exclusive`` drops batches >= it
    (the streaming replay exclusion: a replayed batch never matches the
    rows its crashed attempt already stored)."""
    df = reader(spark, meta, sub).parquet(
        fsio.versioned_subdir(index_path, sub, int(meta.get("version", 0)))
    )
    if max_batch_id_exclusive is not None:
        df = df.filter(F.col("batch_id") < F.lit(max_batch_id_exclusive))
    return df.drop("batch_id")


def write_batch(
    index_path: str,
    version: int,
    batch_id: int,
    parts: dict[str, DataFrame],
    counted: str,
) -> int:
    """Write each ``{sub: df}`` part into ``{sub}/batch_id=N`` of the
    version-``version`` tree (overwrite: a replay replaces itself) as
    concurrent jobs over the shared input — one round of fixed job cost
    per append, not one per part — and return the row count of part
    ``counted``, observed on its own write (no count job). Each part is
    REBALANCEd first: persisted at compute parallelism a batch writes
    core-count sliver files every later query pays to open (measured 16
    files for 833 rows); AQE sizes the rebalanced output instead."""
    from pyspark.sql import Observation

    from projet_5spar_sparkstreaming_spark.operators.dedup import _parallel_actions

    obs = Observation()

    def job(sub: str, df: DataFrame):
        if sub == counted:
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        path = f"{fsio.versioned_subdir(index_path, sub, version)}/batch_id={batch_id}"
        return lambda: df.hint("rebalance").write.mode("overwrite").parquet(path)

    _parallel_actions(*[job(sub, df) for sub, df in parts.items()])
    return int(obs.get["rows"])


def build(
    spark,
    spec: IndexSpec,
    index_path: str,
    batch_id: int,
    write: Callable[[], int],
    fields: Callable[[int], dict],
) -> dict:
    """Create the index from scratch: ``write()`` stores the seed batch
    at version 0 and returns its row count; ``fields(n_rows)`` gives
    the family's pinned parameters. Returns the committed meta."""
    with fsio.writer_lease(spark, index_path) as lease:
        fsio.set_build_marker(spark, index_path)
        fsio.delete_path(spark, index_path)
        with lease.guard_data_writes():
            n_rows = write()
        meta = {
            **fields(n_rows),
            "version": 0,
            "batches": {str(batch_id): n_rows},
            # appends and rewrites keep columns and types, so the build's
            # schema (batch_id and the caller's id dtype included) holds
            "schemas": {
                sub: spark.read.parquet(
                    fsio.versioned_subdir(index_path, sub, 0)
                ).schema.json()
                for sub in spec.subs
            },
        }
        lease.validate()
        fsio.write_json(spark, spec.meta_path(index_path), meta)
        fsio.clear_build_marker(spark, index_path)
    return meta


def _open(spark, spec: IndexSpec, index_path: str) -> dict:
    """Under the lease: the committed meta, with a crashed build's
    lingering marker shed (lease + meta prove it stale) before it can
    misroute a later transient meta-None read into a rebuild."""
    meta = require_meta(spark, spec, index_path)
    fsio.clear_stale_build_marker(spark, index_path)
    return meta


def append(
    spark,
    spec: IndexSpec,
    index_path: str,
    batch_id: int,
    write: Callable[[dict, int], int],
) -> int:
    """Add batch ``batch_id``: ``write(meta, version)`` stores it with
    the meta's pinned parameters under the live version and returns
    its row count, which is returned here."""
    with fsio.writer_lease(spark, index_path) as lease:
        meta = _open(spark, spec, index_path)
        with lease.guard_data_writes():
            n_rows = write(meta, int(meta.get("version", 0)))
        meta.setdefault("batches", {})[str(batch_id)] = n_rows
        lease.validate()
        fsio.write_json(spark, spec.meta_path(index_path), meta)
    return n_rows


def _committed_rows(spark, spec, index_path, sub, version, snapshot) -> DataFrame:
    src = spec.data_dir(spark, index_path, sub, version)
    return (
        spark.read.option("basePath", src)
        .parquet(src)
        .filter(F.col("batch_id").isin([int(b) for b in snapshot]))
    )


def _rewrite(spark, spec, index_path, lease, meta, target_partitions, body, amend):
    """Snapshot the meta, let ``body(version, snapshot, write)`` write
    the next-version trees (``write(sub, df)`` persists one), check for
    drift, ``amend(meta)`` and publish it at the next version (the
    flip). Returns the old version."""
    from projet_5spar_sparkstreaming_spark.session import wide_vector_scope

    version = int(meta.get("version", 0))
    snapshot = dict(meta["batches"])  # ids AND row counts: catches replays
    n_parts = target_partitions or spark.sparkContext.defaultParallelism

    def write(sub: str, df: DataFrame) -> None:
        (
            df.repartition(n_parts, *spec.rewrite_keys)
            .write.mode("overwrite")
            .partitionBy(*spec.partition_cols)
            .parquet(fsio.versioned_subdir(index_path, sub, version + 1))
        )

    with wide_vector_scope(spark, spec.dim(meta)), lease.guard_data_writes():
        body(version, snapshot, write)
    fsio.require_no_meta_drift(
        read_meta(spark, spec, index_path), snapshot, version, index_path
    )
    amend(meta)
    meta["version"] = version + 1
    lease.validate()
    fsio.write_json(spark, spec.meta_path(index_path), meta)
    return version


def compact(
    spark,
    spec: IndexSpec,
    index_path: str,
    keep_last: int = 1,
    target_partitions: int | None = None,
    before_flip: Callable[[dict], None] = lambda meta: None,
    after_flip: Callable[[int], None] = lambda old_version: None,
) -> dict:
    """Merge all but the newest ``keep_last`` batches into one partition
    (see the module docstring). ``before_flip(meta)`` may amend the meta
    before it is published; ``after_flip(old_version)`` runs under the
    lease after it is. Returns the updated meta."""
    with fsio.writer_lease(spark, index_path) as lease:
        meta = _open(spark, spec, index_path)
        batch_ids = sorted(int(b) for b in meta.get("batches", {}))
        merged = batch_ids[: max(0, len(batch_ids) - keep_last)]
        if len(merged) < 2:
            return meta
        merged_id = min(merged)
        remap = F.when(
            F.col("batch_id").isin(merged), F.lit(merged_id)
        ).otherwise(F.col("batch_id"))

        def body(version, snapshot, write):
            for sub in spec.subs:
                # drop crashed next-version trees and grace copies older
                # than the live version; readers of the live one keep it
                fsio.clean_versions_except(spark, index_path, sub, {version})
                rows = _committed_rows(spark, spec, index_path, sub, version, snapshot)
                write(sub, rows.withColumn("batch_id", remap))

        def amend(meta):
            batches = meta["batches"]
            batches[str(merged_id)] = sum(batches.pop(str(b)) for b in merged)
            before_flip(meta)

        old = _rewrite(
            spark, spec, index_path, lease, meta, target_partitions, body, amend
        )
        after_flip(old)
    return meta


def rebuild(
    spark,
    spec: IndexSpec,
    index_path: str,
    source: str,
    retrain: Callable[[dict, DataFrame, int, Callable], dict],
    target_partitions: int | None = None,
) -> dict:
    """Retrain a grown index from its own stored ``(id, vec, batch_id)``
    rows (subtree ``source``): ``retrain(meta, stored, total_rows,
    write)`` derives the new parameters, writes every next-version
    subtree through ``write(sub, df)`` and returns the meta fields to
    flip. ``sized_for_rows`` is reset to the store's current total.
    Returns the updated meta."""
    with fsio.writer_lease(spark, index_path) as lease:
        meta = _open(spark, spec, index_path)
        total_rows = stored_rows(meta)
        updates: dict = {}

        def body(version, snapshot, write):
            for sub in spec.subs:
                fsio.clean_versions_except(spark, index_path, sub, {version})
            stored = (
                _committed_rows(spark, spec, index_path, source, version, snapshot)
                .select("id", "vec", "batch_id")
                .cache()
            )
            updates.update(retrain(meta, stored, total_rows, write))
            stored.unpersist()

        _rewrite(
            spark, spec, index_path, lease, meta, target_partitions, body,
            lambda meta: meta.update(updates, sized_for_rows=total_rows),
        )
    return meta


def batch_written(spark, spec, index_path: str, meta: dict, batch_id: int) -> bool:
    """True when batch ``batch_id`` was written before: its meta entry
    exists, or its ``batch_id=N`` dir does under the live version's first
    data subtree (an append killed between its data and meta writes)."""
    if str(batch_id) in (meta.get("batches") or {}):
        return True
    first = fsio.versioned_subdir(index_path, spec.subs[0], int(meta.get("version", 0)))
    return fsio.path_exists(spark, f"{first}/batch_id={batch_id}")
