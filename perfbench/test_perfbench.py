"""Tests of the benchmark's own pieces (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
import procfs  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402

# ------------------------------------------------------------------ generator


def test_toot_records_are_a_function_of_the_seed():
    a = gen.toot_records(7, 500, span_s=60)
    b = gen.toot_records(7, 500, span_s=60)
    c = gen.toot_records(8, 500, span_s=60)
    assert [r["payload"] for r in a] == [r["payload"] for r in b]
    assert [r["payload"] for r in a] != [r["payload"] for r in c]


def test_toot_record_shares_and_truth():
    recs = gen.toot_records(3, 20_000, span_s=3600)
    n = len(recs)
    junk = sum(1 for r in recs if "id" not in r)
    late = sum(1 for r in recs if r.get("late"))
    assert abs(junk / n - gen.JUNK_SHARE) < 0.01
    assert abs(late / n - gen.LATE_SHARE) < 0.01
    ids = [r["id"] for r in recs if "id" in r]
    assert len(ids) - len(set(ids)) > 0.8 * gen.DUP_ID_SHARE * n
    for r in recs:
        if r["valid"]:
            doc = json.loads(r["payload"])
            assert doc["text"].strip() == r["text"]
            assert r["text"].split(" ", 1)[0] == r["token"]
            assert doc["username"] is not None


@pytest.mark.parametrize(
    "layout,text,truth_ms",
    [
        (0, "2025-10-03 00:00:01.234000+00:00", 1759449601234),
        (1, "2025-10-03 00:00:01+00:00", 1759449601000),
        (2, "2025-10-03T00:00:01.234Z", 1759449601234),
        (3, "2025-10-03T00:00:01.234+00:00", 1759449601234),
        (4, "03/10/2025 00h00", None),
    ],
)
def test_created_at_layouts_carry_their_truth(layout, text, truth_ms):
    assert gen._fmt_created_at(1759449601234, layout) == (text, truth_ms)


def test_kafka_table_offsets_dense_per_partition():
    recs = gen.toot_records(1, 40, span_s=10)
    t1 = gen.kafka_table(recs[:17], 0, 5)
    t2 = gen.kafka_table(recs[17:], 17, 5)
    offsets = {}
    for t in (t1, t2):
        for p, o in zip(t["partition"].to_pylist(), t["offset"].to_pylist()):
            offsets.setdefault(p, []).append(o)
    assert sorted(offsets) == list(range(gen.N_PARTITIONS))
    for offs in offsets.values():
        assert offs == list(range(len(offs)))


def test_generator_process_writes_segments_on_schedule(tmp_path):
    out = tmp_path / "topic"
    proc = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(gen.__file__), "gen.py"), "--out", str(out),
         "--seed", "5", "--rate", "100", "--seconds", "0.6", "--interval", "0.2",
         "--start-delay", "0.1"],
        capture_output=True, text=True, timeout=60, check=True,
    )
    report = json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["segments"] == 3 and report["rows_per_segment"] == 20
    assert report["late_max_s"] >= 0
    import pyarrow.parquet as pq

    names = sorted(os.listdir(out))
    assert names == [f"segment-{s:06d}.parquet" for s in range(3)]
    for s, name in enumerate(names):
        ts = pq.read_table(out / name)["timestamp"].to_pylist()
        due_ms = int((report["start"] + s * 0.2) * 1000)
        assert {int(t.timestamp() * 1000) for t in ts} == {due_ms}
    # the payloads are the ones the seed gives
    recs = gen.toot_records(5, 60, span_s=0.6)
    values = [v for name in names for v in pq.read_table(out / name)["value"].to_pylist()]
    assert values == [r["payload"] for r in recs]


def test_star_schema_is_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    a = gen.star_schema(4, 0.001, str(tmp_path / "a"))
    b = gen.star_schema(4, 0.001, str(tmp_path / "b"))
    assert a == b and set(a) == set(oracle.TABLES)
    for t in a:
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet"))


def test_neardup_inputs_plant_near_duplicates():
    inp = gen.neardup_inputs(9, 200, 2, 100, 0.3)
    again = gen.neardup_inputs(9, 200, 2, 100, 0.3)
    assert inp["new_docs"] == again["new_docs"]
    planted = inp["planted"]
    assert 0.2 < planted.mean() < 0.4
    store = set(inp["store_docs"])
    for doc, is_planted in zip(inp["new_docs"], planted):
        assert (doc.rsplit(" ", 1)[0] in store) == bool(is_planted)


# ----------------------------------------------------------------- /proc


def test_parse_stat_handles_spaces_and_parens_in_comm():
    fields = ["S", "10", "11", "12"] + ["0"] * 7 + ["150", "50", "7", "3"] + ["0"] * 6 + ["2048"]
    st = procfs.parse_stat("4242 (py (worker) x) " + " ".join(fields))
    assert st["pid"] == 4242 and st["comm"] == "py (worker) x" and st["ppid"] == 10
    assert (st["utime"], st["stime"], st["cutime"], st["cstime"]) == (150, 50, 7, 3)
    assert st["rss_pages"] == 2048


def test_parse_stat_of_this_process():
    with open(f"/proc/{os.getpid()}/stat") as fh:
        st = procfs.parse_stat(fh.read())
    assert st["pid"] == os.getpid() and st["ppid"] == os.getppid()


def _proc(pid, ppid, comm, utime=0, cutime=0, rss=0):
    return {"pid": pid, "ppid": ppid, "comm": comm, "utime": utime, "stime": 0,
            "cutime": cutime, "cstime": 0, "rss_pages": rss}


def test_classify_and_totals_split_the_tree():
    tck = procfs.CLK_TCK
    tree = {p["pid"]: p for p in (
        _proc(1, 0, "python3", utime=tck, cutime=50 * tck),
        _proc(2, 1, "java", utime=4 * tck, rss=1000),
        _proc(3, 2, "python3", utime=tck, cutime=2 * tck),  # the PySpark daemon
        _proc(4, 3, "python3", utime=tck),  # a live worker
        _proc(5, 1, "python3", utime=9 * tck),  # the load generator
        _proc(6, 5, "sh", utime=9 * tck),
        _proc(7, 99, "java", utime=100 * tck),  # another tree
        _proc(8, 2, "Executor task l", utime=tck, rss=1000),  # the JVM spawning a command
    )}
    roles = procfs.classify(tree, 1, exclude={5})
    assert roles == {1: "driver", 2: "jvm", 3: "pyworker", 4: "pyworker"}
    tot = procfs.tree_totals(tree, roles)
    # reaped children count for workers only, so the generator the
    # driver reaped does not land on the driver
    assert tot["driver_cpu_s"] == pytest.approx(1.0)
    assert tot["jvm_cpu_s"] == pytest.approx(4.0)
    assert tot["pyworker_cpu_s"] == pytest.approx(4.0)
    assert tot["jvm_rss_mb"] == pytest.approx(1000 * procfs.PAGE_KB / 1024)


def test_sampler_sees_this_process():
    s = procfs.TreeSampler(interval=0.05)
    first = s.sample()
    sum(i * i for i in range(300_000))
    later = s.sample()
    assert procfs.cpu_delta(first, later)["driver"] >= 0
    assert s.peaks()["driver_rss_mb"] > 0
    assert s.at(0.0) is first


def test_sampler_takes_its_own_cpu_off_the_driver(monkeypatch):
    # a tree whose driver CPU never changes: whatever the samples cost
    # shows as sampler CPU, taken off the driver's figure
    tree = {os.getpid(): _proc(os.getpid(), 1, "python3", utime=1000, rss=100)}
    monkeypatch.setattr(procfs, "_read_all", lambda proc="/proc": dict(tree))
    s = procfs.TreeSampler()
    samples = [s.sample() for _ in range(200)]
    raw = 1000 / procfs.CLK_TCK
    assert samples[-1]["sampler_cpu_s"] > samples[0]["sampler_cpu_s"] > 0
    for t in samples:
        assert t["driver_cpu_s"] + t["sampler_cpu_s"] == pytest.approx(raw)


# ------------------------------------------------------------ summary rules


@pytest.mark.parametrize("n,pct", [(5, None), (20, 50.0), (40, 75.0), (100, 90.0),
                                   (199, 90.0), (200, 95.0), (1000, 99.0), (20_000, 99.0)])
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    assert stats.tail_percentile(n) == pct
    if pct is not None:
        rank = -(-int(pct * n) // 100)
        assert n - rank >= stats.MIN_BEYOND


def test_latency_summary_reports_rule_and_count():
    values = [float(i) for i in range(1, 1001)]
    s = stats.latency_summary(values)
    assert s == {"n": 1000, "p50": 500.5, "tail_pct": 99.0, "tail": 990.0}
    few = stats.latency_summary([3.0, 1.0, 2.0])
    assert few["tail_pct"] == 100.0 and few["tail"] == 3.0 and few["p50"] == 2.0


def test_percentile_is_nearest_rank():
    assert stats.percentile([5, 1, 4, 2, 3], 50) == 3
    assert stats.percentile([5, 1, 4, 2, 3], 100) == 5
    assert stats.percentile([5, 1, 4, 2, 3], 1) == 1


def test_steady_batches_cut_first_and_remainder():
    rows, secs = [300, 300, 300, 300, 100], [5.0, 1.0, 1.1, 0.9, 0.8]
    assert stats.steady_batches(rows, secs) == ([300, 300, 300], [1.0, 1.1, 0.9])
    # a full last batch stays
    assert stats.steady_batches([300, 300, 300], [5.0, 1.0, 1.2]) == ([300, 300], [1.0, 1.2])
    assert stats.steady_batches([300], [5.0]) == ([], [])


def test_in_window_cuts_warmup_and_drain_by_due_time():
    samples = [(10.0, 1.0), (11.9, 2.0), (12.0, 3.0), (15.0, 4.0), (20.0, 5.0)]
    assert stats.in_window(samples, 12.0, 20.0) == [3.0, 4.0]


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert stats.quartile_spread([8, 9, 10, 11, 12]) == pytest.approx((11.5 - 8.5) / 10)


# ------------------------------------------------------------ span readers


@pytest.mark.parametrize("text,value", [
    ("1.2 s", 1.2), ("450 ms", 0.45), ("155.9 KiB", 155.9 * 1024), ("7,646", 7646.0),
    ("0.0 B", 0.0), ("total (min, med, max (stageId: taskId))\n2.5 s (0.5 s, 1.0 s, 1.0 s (stage 3.0: task 9))", 2.5),
    ("2 m", 120.0),
])
def test_parse_sql_metric(text, value):
    assert spans.parse_sql_metric(text) == pytest.approx(value)


def test_progress_metrics_and_trigger_end():
    def prog(rows, trig, commit, dropped):
        return {"numInputRows": rows, "timestamp": "2025-10-03T00:00:01.500Z",
                "durationMs": {"triggerExecution": trig, "addBatch": trig // 2, "walCommit": 10,
                               "commitOffsets": 5, "latestOffset": 3, "queryPlanning": 7},
                "stateOperators": [{"commitTimeMs": commit, "numRowsDroppedByWatermark": dropped,
                                    "numRowsTotal": 40, "memoryUsedBytes": 2**20}]}
    pm = spans.progress_metrics([prog(10, 1000, 4, 1), prog(0, 50, 0, 0), prog(5, 500, 6, 2)])
    assert pm["batches"] == 2 and pm["trigger_s"] == pytest.approx(1.5)
    assert pm["add_batch_s"] == pytest.approx(0.75) and pm["state_commit_s"] == pytest.approx(0.01)
    assert pm["watermark_dropped_rows"] == 3 and pm["state_rows"] == 40
    assert pm["state_memory_mb"] == pytest.approx(1.0)
    assert spans.trigger_span(prog(1, 250, 0, 0)) == pytest.approx((1759449601.5, 1759449601.75))


def test_tracer_records_parents_and_totals():
    t = spans.Tracer(spark=None, enabled=True)
    parent = t.add("op", 0.0, 10.0)
    t.add("plans.action", 2.0, 6.0, parent=parent)
    t.add("plans.action", 8.0, 9.0, parent=parent)
    assert [s["parent"] for s in t.spans] == [None, parent["id"], parent["id"]]
    assert t.total("plans.action") == pytest.approx(5.0)
    off = spans.Tracer(spark=None, enabled=False)
    off.add("op", 0.0, 1.0)
    with off.span("op") as rec:
        assert rec is None
    assert off.spans == []


# ------------------------------------------------------------------ oracle


def test_stream_aggregate_check_accepts_truth_and_flags_errors():
    import datetime as dt

    recs = [r for r in gen.toot_records(2, 400, span_s=200) if r["valid"]]
    lengths, counts = {}, {}
    for r in recs:
        lengths.setdefault(r["username"], []).append(len(r["text"]))
        if r["created_ms"] is not None and not r["late"]:
            w = r["created_ms"] // 60_000 * 60_000
            counts[w] = counts.get(w, 0) + 1
    avg = {u: round(sum(v) / len(v), 6) for u, v in lengths.items()}
    rows = [(dt.datetime.fromtimestamp(w / 1000, dt.timezone.utc).replace(tzinfo=None), None, c)
            for w, c in counts.items()]
    assert oracle.check_toot_stream_aggregates(recs, rows, avg) == []
    bad = dict(avg)
    bad[next(iter(bad))] += 1.0
    assert len(oracle.check_toot_stream_aggregates(recs, rows, bad)) == 1
    short = [(w0, w1, c - 1) for w0, w1, c in rows]
    assert oracle.check_toot_stream_aggregates(recs, short, avg)
