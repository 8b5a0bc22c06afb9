"""SparkSession factory with scale-aware defaults.

Replaces the reference's hardcoded ``spark.sql.shuffle.partitions=4``
(reference: src/batch_clean_historical.py:10, src/batch_analytics.py:12)
with AQE-driven sizing, and centralizes the config every job shares so
batch, streaming, tests and bench all run the same engine profile.

On a real cluster the same factory applies: AQE coalesces shuffle
partitions at runtime, skew-join handling splits hot partitions, and
broadcast thresholds let small dimension tables avoid shuffles entirely.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "projet_5spar_sparkstreaming_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) the shared SparkSession.

    Local mode by default (``local[$SPARK_GRAFT_CPUS]``); on a cluster,
    pass ``master=None`` with an external cluster manager config and the
    same SQL conf applies unchanged.
    """
    cores = _local_cores()
    if master is None:
        master = f"local[{cores}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism / correctness ---
        .config("spark.sql.session.timeZone", "UTC")
        # parquet timestamps with isAdjustedToUTC=false (what pandas/
        # pyarrow write by default) must read as LTZ wall-clock-in-UTC,
        # not TIMESTAMP_NTZ: event-time ops (long casts, watermarks) and
        # the DuckDB oracles both assume one timestamp family
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # --- adaptive execution: runtime re-plan beats hardcoded knobs ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Start shuffles near core count locally; AQE coalesces down.
        # On a 1000-executor cluster this would be ~2-3x total cores.
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        # --- Arrow for any pandas-UDF path ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: keep parquet splits memory-friendly ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # openCostInBytes (r14, guide §6): the 4 MB default models
        # HDFS-era per-file open latency and FLOORS maxSplitBytes at
        # 4 MB (maxSplitBytes = min(maxPartitionBytes, max(openCost,
        # totalBytes/minPartitionNum))), which serializes any scan of a
        # table under ~cores*4MB onto a handful of tasks — an 11 MB
        # table scanned on 32 cores ran 3 tasks. 512 KB is a truer open
        # cost for local NVMe and footer-cached object storage; at
        # 100 TB the bytes-per-core term dominates and this knob is
        # inert, while small/medium dimension-table scans parallelize
        # on any cluster. Env-overridable for deployments where opens
        # are genuinely expensive (cold object store, dense small-file
        # tables): the 4 MB default capped splits at ~32 files, 512 KB
        # allows ~256 per 128 MB split.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", "524288"),
        )
        # spark.sql.parquet.columnarReaderBatchSize stays at its 4096
        # default: shrinking it globally costs ~2x on narrow 5M-row
        # scans (measured r9). Wide array columns (dim-768+ embeddings)
        # can OOM the vectorized reader at 4096 rows, so the engine
        # scopes it (an ACTION-TIME conf) around the jobs it owns with
        # wide_vector_scope below; callers running their own actions
        # over wide vectors use it too.
        # --- heap: local mode puts driver+executors in ONE JVM; the 1g
        # default dies under long multi-query sessions (sweeps, bench).
        # Applied at JVM launch, so only effective for sessions this
        # factory creates first — which is every engine entry point.
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
        )
        .config("spark.driver.maxResultSize", "2g")
        # --- quiet UI for non-interactive runs ---
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.ui.showConsoleProgress", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def cluster_conf(
    total_cores: int = 5000,
    broadcast_threshold_mb: int = 256,
    use_rocksdb_state: bool = True,
) -> dict[str, str]:
    """Recommended SQL conf overrides for a real multi-executor cluster
    (SCALE.md's knob table, as code): pass to ``get_spark(master=None,
    extra_conf=cluster_conf(...))`` under an external cluster manager.

    - shuffle partitions ~2x total cores (AQE coalesces down, skew-join
      splits hot keys at runtime — both already on in the base conf);
    - broadcast threshold raised so dimension tables up to ~1e8 rows
      avoid shuffles (the base default 10MB is sized for laptops);
    - RocksDB state store for streaming state that exceeds executor
      heap (watermarked windows/joins/dedup at 100 TB/day).
    Everything else in the factory (UTC, Arrow, parquet split sizing,
    LTZ timestamp inference) is scale-independent and carries over.
    """
    conf = {
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.autoBroadcastJoinThreshold": str(
            broadcast_threshold_mb * 1024 * 1024
        ),
    }
    if use_rocksdb_state:
        conf["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming."
            "state.RocksDBStateStoreProvider"
        )
    return conf


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def wide_vector_reader_capacity(
    dim: int, elem_bytes: int = 8, target_batch_bytes: int = 8 << 20
) -> int | None:
    """Vectorized-parquet-reader batch size (rows) for a scan whose
    schema carries a ``dim``-wide array column, or None when the
    default 4096 is already safe. The reader allocates
    ``capacity x dim x elem_bytes`` per column batch PER TASK: at
    dim 768 doubles the 4096 default is ~25 MB, which under 32-way
    task concurrency is ~800 MB of simultaneous column batches — the
    OOM pressure documented in ``get_spark``. Sized so one batch stays
    near ``target_batch_bytes`` (8 MB), floor 512 so row-group
    overhead never dominates; None above the threshold keeps narrow
    scans on the default (shrinking it globally measured ~2x slower on
    5M-row narrow scans, r9)."""
    if dim is None or dim * elem_bytes * 4096 <= 2 * target_batch_bytes:
        return None
    cap = target_batch_bytes // (dim * elem_bytes)
    return max(512, min(4096, int(cap)))


class scoped_conf:
    """Set session SQL confs around an ENGINE-OWNED action and restore
    them after (re-entrant context manager). The vectorized reader
    reads ``spark.sql.parquet.columnarReaderBatchSize`` at ACTION time
    (measured: a DataFrame built under one value executes under
    whatever the session holds when the job runs), so this only
    protects code that runs its own jobs inside the scope — the
    streaming ingest guards' foreachBatch bodies and the index
    build/compaction rewrites. Pure query builders stay lazy and
    cannot scope a caller's later action; callers running their own
    wide-vector jobs use this directly:

        with scoped_conf(spark, {"spark.sql.parquet."
                                 "columnarReaderBatchSize": "1024"}):
            df.write.parquet(...)

    Confs are session-global for the scope's duration: a concurrent
    query in the SAME session sees the override too (local-mode
    engines run one stream; on a shared cluster use a separate session
    for the guard)."""

    def __init__(self, spark, confs: dict):
        self._spark = spark
        self._confs = {k: str(v) for k, v in confs.items()}
        self._saved: dict = {}

    def __enter__(self):
        for k, v in self._confs.items():
            try:
                self._saved[k] = self._spark.conf.get(k)
            except Exception:
                self._saved[k] = None
            self._spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, old in self._saved.items():
            if old is None:
                self._spark.conf.unset(k)
            else:
                self._spark.conf.set(k, old)
        return False


def wide_vector_scope(spark, dim: int) -> scoped_conf:
    """``scoped_conf`` sizing the vectorized parquet reader for jobs
    that scan ``dim``-wide vectors (``wide_vector_reader_capacity``);
    an empty, no-op scope for narrow ones."""
    cap = wide_vector_reader_capacity(dim)
    return scoped_conf(
        spark,
        {} if cap is None else {"spark.sql.parquet.columnarReaderBatchSize": cap},
    )
