"""The benchmark's workloads.

Each runner takes a ``Ctx`` and returns a ``Run``: end-to-end values,
per-layer values, operation counts and a list of failed checks. Setup
(session start, staging, index builds) happens before the timed phase;
the benchmark's own input generation and oracle work is not charged to
``setup_s``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np

import gen
import oracle
import stats
import spans as tr

HERE = os.path.dirname(os.path.abspath(__file__))

# toot_stream: the offered rate, the latency limit on its tail, and the
# warm-up the first micro-batches need: JIT and code-path warming make
# the first batches slow, and the stream catches up with the backlog
# they leave for several more triggers. The queries keep Spark's default
# trigger (next micro-batch as soon as the last one ends), as the
# reference job does.
TOOT_REFERENCE_RATE = 2000
TOOT_LATENCY_LIMIT_S = 2.0
TOOT_WARMUP_S = 12.0
TOOT_SEGMENT_S = 0.2
# event time advances 20x faster than wall time, so a run spans several
# 1-minute windows while staying inside the 10-minute watermark
TOOT_EVENT_SPEEDUP = 20

ANALYTICS_SCALE = 0.005
ANALYTICS_TOOTS = 20_000
ANALYTICS_TOOT_SPAN_S = 4 * 86_400

NEARDUP_STORE = 2_000
NEARDUP_ROWS_PER_FILE = 300
NEARDUP_PLANTED_SHARE = 0.2
NEARDUP_RECALL_FLOOR = 0.95
NEARDUP_FRESH_ADMIT_FLOOR = 0.99


@dataclasses.dataclass
class Ctx:
    spark: object
    tracer: tr.Tracer
    sampler: object
    seed: int
    seconds: int
    work: str
    session_start_s: float


@dataclasses.dataclass
class Run:
    e2e: dict
    layers: dict
    attempted: int
    failures: list
    detail: dict


def _cpu_and_rss(ctx: Ctx, before: dict, after: dict, wall: float) -> dict:
    from procfs import cpu_delta

    cpu = cpu_delta(before, after)
    peaks = ctx.sampler.peaks()
    return {
        "cpu": cpu,
        "sampler_cpu_s": after["sampler_cpu_s"] - before["sampler_cpu_s"],
        "layers": {
            "process.driver_cpu_s": cpu["driver"],
            "process.jvm_cpu_s": cpu["jvm"],
            "process.pyworker_cpu_s": cpu["pyworker"],
            "process.jvm_peak_rss_mb": peaks.get("jvm_rss_mb", 0.0),
            "process.pyworker_peak_rss_mb": peaks.get("pyworker_rss_mb", 0.0),
            "process.sampler_cpu_s": after["sampler_cpu_s"] - before["sampler_cpu_s"],
            "trace.overhead_pct": 100.0 * ctx.tracer.overhead_s / wall if wall else 0.0,
        },
        "peak_rss_mb": peaks.get("total_rss_mb", 0.0),
    }


def _engine_layers(ctx: Ctx, min_job: int) -> dict:
    """Stage data and SQL metrics of every job from ``min_job`` on; the
    per-group stage sums are attached to the spans that own them."""
    if not ctx.tracer.enabled:
        return {}
    st, by_group = tr.stage_metrics(ctx.spark, min_job)
    sq = tr.sql_metrics(ctx.spark, min_job)
    for span in ctx.tracer.spans:
        if span.get("group") in by_group:
            span["stages"] = by_group[span["group"]]
    return {
        "sources.scan_s": sq["scan_s"],
        "sources.input_bytes": st["input_bytes"],
        "sources.input_rows": st["input_rows"],
        "operators.executor_cpu_s": st["executor_cpu_s"],
        "operators.executor_run_s": st["executor_run_s"],
        "operators.gc_s": st["gc_s"],
        "operators.shuffle_write_bytes": st["shuffle_write_bytes"],
        "operators.shuffle_read_bytes": st["shuffle_read_bytes"],
        "operators.spill_bytes": st["spill_bytes"],
        "operators.peak_exec_memory_mb": st["peak_exec_memory_mb"],
        "operators.tasks": st["tasks"],
        "operators.task_skew": st["task_skew"],
        "plans.jobs": st["jobs"],
        "pyworker.start_s": sq["pyworker_start_s"],
        "pyworker.init_s": sq["pyworker_init_s"],
        "pyworker.run_s": sq["pyworker_run_s"],
        "pyworker.bytes_sent": sq["pyworker_bytes_sent"],
        "pyworker.bytes_returned": sq["pyworker_bytes_returned"],
    }


def _next_job_id(spark) -> int:
    ids = tr.job_groups(spark)
    return max(ids) + 1 if ids else 0


def _dir_files(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _streaming_layers(progress: list) -> dict:
    pm = tr.progress_metrics(progress)
    out = {f"streaming.{k}": pm[k] for k in (
        "trigger_s", "add_batch_s", "query_planning_s", "wal_commit_s", "commit_offsets_s", "batches")}
    out["sources.latest_offset_s"] = pm["latest_offset_s"]
    return out


# --------------------------------------------------------------- toot_stream


def toot_stream(ctx: Ctx) -> Run:
    """The reference's streaming job fed by an open-loop generator."""
    import pyarrow.dataset as ds

    from projet_5spar_sparkstreaming_spark.sources.files import parse_toot_values
    from projet_5spar_sparkstreaming_spark.sources.kafka_fake import read_fake_kafka_stream
    from projet_5spar_sparkstreaming_spark.streaming.jobs import (
        avg_length_by_user,
        clean_toot_stream,
        minute_counts,
        posts_projection,
    )
    from projet_5spar_sparkstreaming_spark.streaming.sinks import idempotent_parquet_sink

    spark, tracer = ctx.spark, ctx.tracer
    topic = os.path.join(ctx.work, "topic")
    posts_dir = os.path.join(ctx.work, "posts")
    os.makedirs(topic)
    chk = lambda name: os.path.join(ctx.work, "chk", name)  # noqa: E731

    t = time.perf_counter()
    with tracer.span("plans.build"):
        clean = clean_toot_stream(parse_toot_values(read_fake_kafka_stream(spark, topic)))
        posts = posts_projection(clean)
        minutes = minute_counts(clean)
        avg_len = avg_length_by_user(clean)
    build_s = time.perf_counter() - t
    q_posts = idempotent_parquet_sink(posts, posts_dir, chk("posts"))
    q_min = (
        minutes.writeStream.format("memory").queryName("pb_minute_counts")
        .outputMode("update").option("checkpointLocation", chk("minutes")).start()
    )
    q_avg = (
        avg_len.writeStream.format("memory").queryName("pb_avg_len")
        .outputMode("complete").option("checkpointLocation", chk("avg")).start()
    )
    staging_s = time.perf_counter() - t
    queries = (q_posts, q_min, q_avg)

    total_s = TOOT_WARMUP_S + ctx.seconds
    first_job = _next_job_id(spark) if tracer.enabled else 0
    gen_cmd = [
        sys.executable, os.path.join(HERE, "gen.py"), "--out", topic,
        "--seed", str(ctx.seed), "--rate", str(TOOT_REFERENCE_RATE),
        "--seconds", str(total_s), "--interval", str(TOOT_SEGMENT_S),
        "--event-speedup", str(TOOT_EVENT_SPEEDUP),
    ]
    proc = subprocess.Popen(gen_cmd, stdout=subprocess.PIPE, text=True)
    ctx.sampler.exclude.add(proc.pid)
    failures: list[str] = []
    try:
        out, _ = proc.communicate(timeout=total_s + 60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    if proc.returncode != 0:
        raise RuntimeError(f"generator exited {proc.returncode}")
    report = json.loads(out.strip().splitlines()[-1])
    t0 = report["start"]
    warm_until = t0 + TOOT_WARMUP_S
    per_seg = report["rows_per_segment"]
    written = per_seg * report["segments"]
    committed_at_end = sum(int(p["numInputRows"]) for p in q_posts.recentProgress)
    for q in queries:
        q.processAllAvailable()
    for q in queries:
        q.stop()
        if q.exception() is not None:
            failures.append(f"streaming query failed: {q.exception()}")
    gen_end = t0 + total_s

    posts_progress = [p for p in q_posts.recentProgress if int(p["numInputRows"]) > 0]
    end_of = {int(p["batchId"]): tr.trigger_span(p)[1] for p in posts_progress}
    # batches that start after the warm-up and end before the drain
    steady = [p for p in posts_progress
              if tr.trigger_span(p)[0] >= warm_until and tr.trigger_span(p)[1] <= gen_end + 2 * TOOT_SEGMENT_S]

    records = gen.toot_records(ctx.seed, written, span_s=total_s * TOOT_EVENT_SPEEDUP)
    pos_of = {r["token"]: i for i, r in enumerate(records)}
    sink = ds.dataset(posts_dir, format="parquet", partitioning="hive").to_table(
        columns=["content", "batch_id"]).to_pydict()
    seen: dict[int, int] = {}
    lat: list[tuple[float, float]] = []
    for content, batch in zip(sink["content"], sink["batch_id"]):
        i = pos_of.get(content.split(" ", 1)[0])
        if i is None:
            failures.append(f"posts sink holds a row no generated toot explains: {content[:40]!r}")
            continue
        seen[i] = seen.get(i, 0) + 1
        due = t0 + (i // per_seg) * TOOT_SEGMENT_S
        lat.append((due, end_of[int(batch)] - due))
    valid = [i for i, r in enumerate(records) if r["valid"]]
    missing = sum(1 for i in valid if seen.get(i, 0) == 0)
    doubled = sum(1 for i in valid if seen.get(i, 0) > 1)
    stray = sum(1 for i in seen if not records[i]["valid"])
    for what, n in (("valid toots missing from", missing), ("valid toots written twice to", doubled),
                    ("invalid toots written to", stray)):
        if n:
            failures.append(f"{n} {what} the posts sink")
    failures += oracle.check_toot_stream_aggregates(
        records, [tuple(r) for r in spark.table("pb_minute_counts").collect()],
        {r["username"]: r["avg_length"] for r in spark.table("pb_avg_len").collect()},
    )

    lat_steady = stats.in_window(lat, warm_until, gen_end)
    summ = stats.latency_summary(lat_steady)
    s_rows = [int(p["numInputRows"]) for p in steady]
    s_secs = [float(p["durationMs"]["triggerExecution"]) / 1e3 for p in steady]
    # CPU over the measured window alone: a fixed span of wall time
    # carrying a fixed amount of offered load
    res = _cpu_and_rss(ctx, ctx.sampler.at(warm_until), ctx.sampler.at(gen_end), ctx.seconds)
    e2e = {
        "setup_s": ctx.session_start_s + staging_s,
        "latency_p50_s": summ["p50"],
        "cpu_s": sum(res["cpu"].values()),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layers = dict(res["layers"])
    layers.update(_streaming_layers(steady))
    state = tr.progress_metrics(list(q_min.recentProgress) + list(q_avg.recentProgress))
    n_files, n_bytes = _dir_files(posts_dir)
    layers.update({
        "session.start_s": ctx.session_start_s,
        "plans.build_s": build_s,
        "sources.backlog_rows": float(written - committed_at_end),
        "streaming.state_rows": state["state_rows"],
        "streaming.state_memory_mb": state["state_memory_mb"],
        "streaming.state_commit_s": state["state_commit_s"],
        "streaming.watermark_dropped_rows": state["watermark_dropped_rows"],
        "sinks.output_files": float(n_files),
        "sinks.output_bytes": float(n_bytes),
        "generator.late_max_s": report["late_max_s"],
    })
    layers.update(_engine_layers(ctx, first_job))
    for p in steady:
        tracer.add("streaming.trigger", *tr.trigger_span(p), batch=int(p["batchId"]), rows=int(p["numInputRows"]))
    detail = {
        "latency": {"samples": summ["n"], "batches": len(steady), "tail_pct": summ["tail_pct"],
                    "tail_s": summ["tail"], "limit_s": TOOT_LATENCY_LIMIT_S,
                    "within_limit": summ["tail"] <= TOOT_LATENCY_LIMIT_S},
        "rate_rows_per_s": TOOT_REFERENCE_RATE, "steady_batches": len(steady),
        "pass_s": statistics.mean(s_secs), "rows_per_s": sum(s_rows) / sum(s_secs),
        "generated_rows": written, "valid_rows": len(valid), "sampler_cpu_s": res["sampler_cpu_s"],
    }
    return Run(e2e, layers, attempted=len(valid) + len(posts_progress), failures=failures, detail=detail)


# ------------------------------------------------------------ analytics_batch

ANALYTICS_QUERIES = (
    "q1_pricing_summary", "q3_top_orders", "q5_region_revenue", "q6_forecast_revenue",
    "q10_returned_items", "q18_large_volume", "segment_order_stats",
    "top3_orders_per_customer", "order_gaps", "semi_join_urgent", "q7_nation_volume",
    "q9_nation_profit", "q21_waiting_suppliers", "q2_min_cost_supplier", "q8_market_share",
    "user_activity", "minute_window_counts", "latest_event_per_user", "top_type_per_day",
    "json_k_stats", "asof_last_signup", "user_sessions", "pivot_type_day",
)


def analytics_batch(ctx: Ctx) -> Run:
    """Closed loop, one client: the relational and event-analytics
    catalog entries plus the reference's seven batch toot tables."""
    from projet_5spar_sparkstreaming_spark.plans.catalog import catalog
    from projet_5spar_sparkstreaming_spark.plans.toots import analytics_suite, clean_toots
    from projet_5spar_sparkstreaming_spark.sources.files import parse_toot_values
    from projet_5spar_sparkstreaming_spark.sources.kafka_fake import read_fake_kafka_batch

    spark, tracer = ctx.spark, ctx.tracer
    data = os.path.join(ctx.work, "data")
    counts = gen.star_schema(ctx.seed, ANALYTICS_SCALE, data)
    capture = os.path.join(ctx.work, "capture")
    records = gen.toot_records(ctx.seed, ANALYTICS_TOOTS, span_s=ANALYTICS_TOOT_SPAN_S)
    gen.write_capture(records, capture)
    dataset_rows = sum(counts.values()) + len(records)
    entries = {q.name: q for q in catalog()}

    def ops():
        for name in ANALYTICS_QUERIES:
            yield name, lambda name=name: entries[name].build(spark, data)
        holder = {}

        def clean():
            holder["clean"] = clean_toots(parse_toot_values(read_fake_kafka_batch(spark, capture))).cache()
            holder["tables"] = analytics_suite(holder["clean"])
            return holder["clean"]

        yield "toots.clean", clean
        for t in ("hourly_toot_counts", "daily_toot_counts", "user_activity_counts", "active_users",
                  "hashtags_per_day_counts", "top_hashtag_per_day", "avg_toot_length_by_user_batch"):
            yield t, lambda t=t: holder["tables"][t]
        yield "toots.unpersist", lambda: holder["clean"].unpersist() and None

    def one_pass() -> tuple[float, list[float], dict]:
        times, results = [], {}
        t_pass = time.perf_counter()
        with tracer.span("pass"):
            for name, build in ops():
                t = time.perf_counter()
                with tracer.span("op", op=name):
                    with tracer.span("plans.build"):
                        df = build()
                    if df is not None:
                        with tracer.span("plans.action"):
                            results[name] = (df.columns, [tuple(r) for r in df.collect()])
                if df is not None:
                    times.append(time.perf_counter() - t)
        return time.perf_counter() - t_pass, times, results

    # One cold pass, as a spark-submit run of the batch job pays it:
    # JIT, class loading and whole-stage codegen compiles included. Its
    # collected outputs are the ones checked against the oracles.
    first_job = _next_job_id(spark) if tracer.enabled else 0
    cpu0 = ctx.sampler.sample()
    t_timed = time.time()
    pass_s, op_times, results = one_pass()
    cpu1 = ctx.sampler.sample()
    res = _cpu_and_rss(ctx, cpu0, cpu1, time.time() - t_timed)
    failures = oracle.check_catalog(data, {q: entries[q].oracle for q in ANALYTICS_QUERIES}, results)
    failures += oracle.check_toot_tables(records, results)
    summ = stats.latency_summary(op_times)
    e2e = {
        "setup_s": ctx.session_start_s,
        "latency_p50_s": summ["p50"],
        "cpu_s": sum(res["cpu"].values()),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layers = dict(res["layers"])
    layers.update({
        "session.start_s": ctx.session_start_s,
        "plans.build_s": tracer.total("plans.build"),
        "plans.action_s": tracer.total("plans.action"),
    })
    layers.update(_engine_layers(ctx, first_job))
    detail = {"pass_s": pass_s, "ops_per_pass": len(op_times), "dataset_rows": dataset_rows,
              "sampler_cpu_s": res["sampler_cpu_s"],
              "latency": {"samples": summ["n"], "tail_pct": summ["tail_pct"], "tail_s": summ["tail"]}}
    return Run(e2e, layers, attempted=len(op_times), failures=failures, detail=detail)


# ------------------------------------------------------------- neardup_ingest


def neardup_ingest(ctx: Ctx) -> Run:
    """Drain a fixed backlog through both index-backed ingest guards,
    one file per micro-batch, against stores built in setup."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from projet_5spar_sparkstreaming_spark.fsio import list_dir
    from projet_5spar_sparkstreaming_spark.operators.dedup import (
        build_minhash_index,
        minhash_query_index,
        read_minhash_meta,
    )
    from projet_5spar_sparkstreaming_spark.operators.similarity import (
        build_embed_lsh_index,
        embed_lsh_query_index,
        read_embed_lsh_meta,
    )
    from projet_5spar_sparkstreaming_spark.streaming.dedup import (
        stream_embed_neardup_ingest,
        stream_neardup_ingest,
    )

    spark, tracer = ctx.spark, ctx.tracer
    # a file costs about two seconds per guard, so the drain of both
    # guards lasts somewhat less than ``seconds``: six files at 16 s
    n_files = max(4, ctx.seconds * 3 // 8)
    inp = gen.neardup_inputs(ctx.seed, NEARDUP_STORE, n_files, NEARDUP_ROWS_PER_FILE,
                             NEARDUP_PLANTED_SHARE)
    w = lambda *p: os.path.join(ctx.work, *p)  # noqa: E731
    store_docs = pa.table({"doc_id": np.arange(NEARDUP_STORE, dtype=np.int64), "text": inp["store_docs"]})
    store_vecs = pa.table({"vec_id": np.arange(NEARDUP_STORE, dtype=np.int64),
                           "embedding": pa.array(list(inp["store_vecs"]), pa.list_(pa.float64()))})
    os.makedirs(w("stage"))
    pq.write_table(store_docs, w("stage", "docs.parquet"))
    pq.write_table(store_vecs, w("stage", "vecs.parquet"))
    for name in ("docs_in", "vecs_in"):
        os.makedirs(w(name))
    ids = inp["new_ids"]
    for f in range(n_files):
        sl = slice(f * NEARDUP_ROWS_PER_FILE, (f + 1) * NEARDUP_ROWS_PER_FILE)
        pq.write_table(pa.table({"doc_id": ids[sl], "text": inp["new_docs"][sl]}),
                       w("docs_in", f"part-{f:04d}.parquet"))
        pq.write_table(pa.table({"vec_id": ids[sl],
                                 "embedding": pa.array(list(inp["new_vecs"][sl]), pa.list_(pa.float64()))}),
                       w("vecs_in", f"part-{f:04d}.parquet"))
    n_expected = NEARDUP_STORE + len(ids)

    # setup: the stored indexes, built three times into fresh paths; the
    # median build time is charged and the last build serves the drain.
    # Stores take batch id -1 so the stream's own batches (0, 1, ...)
    # all count as later arrivals.
    build_s = {"minhash": [], "embed": []}
    for rep in range(3):
        docs = spark.read.parquet(w("stage", "docs.parquet"))
        vecs = spark.read.parquet(w("stage", "vecs.parquet"))
        t = time.perf_counter()
        with tracer.span("operators.index_build", family="minhash"):
            build_minhash_index(docs, w(f"mh_idx{rep}"), "doc_id", "text", batch_id=-1)
        build_s["minhash"].append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.span("operators.index_build", family="embed"):
            build_embed_lsh_index(vecs, w(f"emb_idx{rep}"), "vec_id", "embedding",
                                  expected_rows=n_expected, batch_id=-1)
        build_s["embed"].append(time.perf_counter() - t)
    staging_s = statistics.median(build_s["minhash"]) + statistics.median(build_s["embed"])
    mh_idx, emb_idx = w("mh_idx2"), w("emb_idx2")

    def file_stream(path: str, schema):
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)

    first_job = _next_job_id(spark) if tracer.enabled else 0
    cpu0 = ctx.sampler.sample()
    t_timed = time.time()
    failures: list[str] = []
    progress = {}
    for family, start in (
        ("minhash", lambda: stream_neardup_ingest(
            file_stream(w("docs_in"), "doc_id bigint, text string"), w("mh_out"), mh_idx, w("chk", "mh"),
            trigger={"availableNow": True})),
        ("embed", lambda: stream_embed_neardup_ingest(
            file_stream(w("vecs_in"), "vec_id bigint, embedding array<double>"), w("emb_out"), emb_idx,
            w("chk", "emb"), trigger={"availableNow": True})),
    ):
        with tracer.span("streaming.dedup", family=family) as span:
            q = start()
            if not q.awaitTermination(150):
                q.stop()
                failures.append(f"{family} guard did not drain its backlog in 150 s")
            if q.exception() is not None:
                failures.append(f"{family} guard failed: {q.exception()}")
        progress[family] = [p for p in q.recentProgress if int(p["numInputRows"]) > 0]
        for p in progress[family]:
            tracer.add("streaming.trigger", *tr.trigger_span(p), parent=span, family=family,
                       rows=int(p["numInputRows"]))
    cpu1 = ctx.sampler.sample()
    timed_wall = time.time() - t_timed

    planted = set(ids[inp["planted"]].tolist())
    fresh = set(ids.tolist()) - planted
    admitted_total = dropped_total = 0
    for family, out in (("minhash", w("mh_out")), ("embed", w("emb_out"))):
        col = "doc_id" if family == "minhash" else "vec_id"
        got = ds.dataset(out, format="parquet", partitioning="hive").to_table(columns=[col])[col].to_pylist()
        admitted = set(got)
        if len(got) != len(admitted):
            failures.append(f"{family}: {len(got) - len(admitted)} rows admitted twice")
        if admitted - set(ids.tolist()):
            failures.append(f"{family}: admitted ids that were never offered")
        recall = len(planted - admitted) / max(len(planted), 1)
        kept = len(fresh & admitted) / max(len(fresh), 1)
        if recall < NEARDUP_RECALL_FLOOR:
            failures.append(f"{family}: planted near-duplicates dropped at {recall:.3f} < {NEARDUP_RECALL_FLOOR}")
        if kept < NEARDUP_FRESH_ADMIT_FLOOR:
            failures.append(f"{family}: fresh rows admitted at {kept:.3f} < {NEARDUP_FRESH_ADMIT_FLOOR}")
        admitted_total += len(admitted)
        dropped_total += len(ids) - len(admitted)

    per_family = {}
    for family, prog in progress.items():
        rows = [int(p["numInputRows"]) for p in prog]
        secs = [float(p["durationMs"]["triggerExecution"]) / 1e3 for p in prog]
        s_rows, s_secs = stats.steady_batches(rows, secs)
        per_family[family] = (s_rows, s_secs)
    all_secs = [s for _, secs in per_family.values() for s in secs]
    all_rows = [r for rows, _ in per_family.values() for r in rows]
    summ = stats.latency_summary(all_secs)
    res = _cpu_and_rss(ctx, cpu0, cpu1, timed_wall)
    e2e = {
        "setup_s": ctx.session_start_s + staging_s,
        "latency_p50_s": summ["p50"],
        "cpu_s": sum(res["cpu"].values()),
        "peak_rss_mb": res["peak_rss_mb"],
    }

    def growth(secs: list[float]) -> float:
        third = max(1, len(secs) // 3)
        return statistics.median(secs[-third:]) / statistics.median(secs[:third])

    if tracer.enabled:
        # the stores' read side as a caller outside the guards uses it:
        # every offered row against the rows stored in setup (batch -1),
        # at the guards' thresholds; each planted row must find its source
        queries = (
            ("minhash", lambda: minhash_query_index(
                spark.read.parquet(w("docs_in")), mh_idx, "doc_id", "text",
                threshold=0.8, max_batch_id_exclusive=0)),
            ("embed", lambda: embed_lsh_query_index(
                spark.read.parquet(w("vecs_in")), emb_idx, "vec_id", "embedding",
                threshold=0.95, max_batch_id_exclusive=0)),
        )
        for family, query in queries:
            with tracer.span("operators.index_query", family=family):
                with tracer.span("plans.build"):
                    df = query()
                with tracer.span("plans.action"):
                    found = {r[0] for r in df.select("id_a").collect()}
            hit = len(planted & found) / max(len(planted), 1)
            if hit < NEARDUP_RECALL_FLOOR:
                failures.append(f"{family} index query found {hit:.3f} of planted rows "
                                f"< {NEARDUP_RECALL_FLOOR}")

    layers = dict(res["layers"])
    layers.update(_streaming_layers(progress["minhash"] + progress["embed"]))
    mh_meta, emb_meta = read_minhash_meta(spark, mh_idx), read_embed_lsh_meta(spark, emb_idx)
    files = size = 0
    for d in (mh_idx, emb_idx):
        n_f, n_b = _dir_files(d)
        files, size = files + n_f, size + n_b
    t = time.perf_counter()
    for d in (mh_idx, emb_idx):
        for sub in list_dir(spark, d):
            list_dir(spark, os.path.join(d, sub))
    list_s = time.perf_counter() - t
    out_files = out_bytes = 0
    for d in (w("mh_out"), w("emb_out")):
        n_f, n_b = _dir_files(d)
        out_files, out_bytes = out_files + n_f, out_bytes + n_b
    mh_rows, mh_secs = per_family["minhash"]
    em_rows, em_secs = per_family["embed"]
    layers.update({
        "session.start_s": ctx.session_start_s,
        "operators.index_build_s": staging_s,
        "operators.index_query_s": tracer.total("operators.index_query"),
        "plans.build_s": tracer.total("plans.build"),
        "plans.action_s": tracer.total("plans.action"),
        "streaming.dedup.admitted_rows": float(admitted_total),
        "streaming.dedup.dropped_rows": float(dropped_total),
        "streaming.dedup.minhash_rows_per_s": sum(mh_rows) / sum(mh_secs),
        "streaming.dedup.embed_rows_per_s": sum(em_rows) / sum(em_secs),
        "streaming.dedup.batch_growth": statistics.mean([growth(mh_secs), growth(em_secs)]),
        "fsio.index_files": float(files),
        "fsio.index_bytes": float(size),
        "fsio.index_version": float(max(mh_meta.get("version", 0), emb_meta.get("version", 0))),
        "fsio.list_s": list_s,
        "sinks.output_files": float(out_files),
        "sinks.output_bytes": float(out_bytes),
    })
    layers.update(_engine_layers(ctx, first_job))
    detail = {"steady_batches": len(all_secs), "pass_s": statistics.median(all_secs),
              "rows_per_s": sum(all_rows) / sum(all_secs),
              "planted": len(planted), "fresh": len(fresh),
              "latency": {"samples": summ["n"], "tail_pct": summ["tail_pct"], "tail_s": summ["tail"]},
              "index_build_s": build_s, "sampler_cpu_s": res["sampler_cpu_s"]}
    batches = sum(len(p) for p in progress.values())
    return Run(e2e, layers, attempted=batches + 2 * len(ids), failures=failures, detail=detail)


RUNNERS = {
    "toot_stream": toot_stream,
    "analytics_batch": analytics_batch,
    "neardup_ingest": neardup_ingest,
}
