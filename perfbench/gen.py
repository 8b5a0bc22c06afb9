"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed gives
byte-identical payloads, tables and corpora. The engine only ever sees
the files these functions write.

Run as a script, this module is the toot_stream load generator: a
separate single-threaded process that pre-generates every payload, then
writes fake-Kafka parquet segments (``KAFKA_SCHEMA`` layout) on a fixed
schedule that does not slow down when the engine does (open loop)::

    python3 perfbench/gen.py --out DIR --seed 1 --rate 2000 \
        --seconds 18 --interval 0.2

Each row's Kafka ``timestamp`` is its due time (the segment's scheduled
write time). The last stdout line is a JSON report with the schedule
start and ``late_max_s``, how late the generator ever ran.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
import time

import numpy as np

# Shares of the generated toot records (stated in BENCHMARK.json).
JUNK_SHARE = 0.03  # not JSON at all; from_json yields an all-null row
INVALID_SHARE = 0.02  # JSON, but null username or blank text: dropped by clean
DUP_ID_SHARE = 0.05  # re-uses an earlier record's id with another created_at
LATE_SHARE = 0.02  # created_at 15 minutes behind its neighbours
BAD_TS_SHARE = 0.02  # created_at in no known layout: parses to null

N_USERS = 50
N_PARTITIONS = 4
TOPIC = "toots"
EVENT_BASE = dt.datetime(2025, 10, 3, tzinfo=dt.timezone.utc)
LATE_BY_S = 900.0

_WORDS = (
    "spark data stream kafka window toot mastodon batch query join merge "
    "scan index vector shard lake table parquet arrow state sink offset "
    "trigger latency cluster node model token corpus filter dedup hash "
    "the a of and to in is for on with as at by from"
).split()
_TAGS = [f"tag{i}" for i in range(30)] + ["ai", "spark", "data"]
_HOSTS = ["mastodon.social", "fosstodon.org", "hachyderm.io"]


def _fmt_created_at(ts_ms: int, layout: int) -> tuple[str, int | None]:
    """(string, parsed truth in epoch ms or None) for one layout.

    The truth is the instant the string denotes, so layouts with
    second precision truncate it."""
    t = dt.datetime.fromtimestamp(ts_ms / 1000.0, tz=dt.timezone.utc)
    if layout == 0:
        return t.strftime("%Y-%m-%d %H:%M:%S.%f") + "+00:00", ts_ms
    if layout == 1:
        return t.strftime("%Y-%m-%d %H:%M:%S") + "+00:00", ts_ms - ts_ms % 1000
    if layout == 2:
        return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts_ms % 1000:03d}Z", ts_ms
    if layout == 3:
        return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts_ms % 1000:03d}+00:00", ts_ms
    return t.strftime("%d/%m/%Y %Hh%M"), None


def toot_records(seed: int, n: int, span_s: float) -> list[dict]:
    """``n`` toot records whose event times spread over ``span_s``.

    Each record is a dict with ``payload`` (the Kafka value bytes),
    ``valid`` (survives the cleaning filters), ``token`` (a unique word
    carried in the text, to find the record in any output) and the
    ground truth the oracles use: ``id``, ``username``, ``text``
    (trimmed), ``hashtags`` and ``created_ms`` (None when unparseable).
    """
    rng = np.random.default_rng(seed)
    users = [
        f"user{u}@{_HOSTS[u % 3]}" if u % 4 == 0 else f"user{u}" for u in range(N_USERS)
    ]
    # one power user carries ~20% of the traffic
    weights = np.full(N_USERS, 0.8 / (N_USERS - 1))
    weights[7] = 0.2
    kind = rng.random(n)
    user_idx = rng.choice(N_USERS, size=n, p=weights)
    n_words = rng.integers(3, 25, size=n)
    layouts = rng.integers(0, 4, size=n)
    step_ms = span_s * 1000.0 / max(n, 1)
    jitter = rng.integers(0, max(int(step_ms), 1), size=n)
    out: list[dict] = []
    base_ms = int(EVENT_BASE.timestamp() * 1000)
    cut_junk = JUNK_SHARE
    cut_invalid = cut_junk + INVALID_SHARE
    cut_dup = cut_invalid + DUP_ID_SHARE
    cut_late = cut_dup + LATE_SHARE
    cut_badts = cut_late + BAD_TS_SHARE
    for i in range(n):
        token = f"r{seed}x{i}"
        k = kind[i]
        if k < cut_junk:
            payload = f"junk line {token}".encode() if i % 2 else b""
            out.append({"payload": payload, "valid": False, "token": token})
            continue
        ts_ms = base_ms + int(i * step_ms) + int(jitter[i])
        if cut_dup <= k < cut_late:
            ts_ms -= int(LATE_BY_S * 1000)
        layout = 4 if cut_late <= k < cut_badts else int(layouts[i])
        created, truth = _fmt_created_at(ts_ms, layout)
        words = rng.choice(_WORDS, size=int(n_words[i]))
        tags = list(rng.choice(_TAGS, size=int(rng.integers(0, 4)), replace=False))
        text = f"{token} " + " ".join(words) + "".join(f" #{t}" for t in tags)
        username = users[int(user_idx[i])]
        rec_id = str(10**17 + seed * 10**7 + i)
        valid = True
        if cut_junk <= k < cut_invalid:
            valid = False
            if i % 2:
                username = None
            else:
                text = "   "
        elif cut_invalid <= k < cut_dup and out:
            # an earlier record's id, with this record's own content
            earlier = out[int(rng.integers(0, len(out)))]
            if earlier.get("id"):
                rec_id = earlier["id"]
        # raw hashtags carry case and whitespace noise the clean trims
        raw_tags = [f" {t.upper()} " if j % 3 == 1 else t for j, t in enumerate(tags)]
        lang = ("en", "en", "fr", "de", None)[i % 5]
        payload = json.dumps(
            {
                "id": rec_id,
                "created_at": created,
                "language": lang,
                "text": f"  {text} " if i % 7 == 0 else text,
                "hashtags": raw_tags,
                "user_id": None if username is None else str(user_idx[i]),
                "username": username,
                "display_name": None if username is None else username.upper(),
                "favourites": int(i % 11),
                "reblogs": int(i % 5),
                "replies": int(i % 3),
                "url": f"https://mastodon.social/@u/{rec_id}",
            }
        ).encode()
        out.append(
            {
                "payload": payload,
                "valid": valid,
                "token": token,
                "id": rec_id,
                "username": username,
                "text": text.strip(),
                "hashtags": tags,
                "created_ms": truth,
                "late": cut_dup <= k < cut_late,
            }
        )
    return out


def kafka_table(records: list[dict], first: int, due_ms: int):
    """A pyarrow table in ``KAFKA_SCHEMA`` layout for ``records``,
    numbered from global position ``first`` (keyless round-robin over
    ``N_PARTITIONS`` partitions, offsets dense per partition)."""
    import pyarrow as pa

    n = len(records)
    pos = np.arange(first, first + n, dtype=np.int64)
    due = np.full(n, due_ms, dtype=np.int64)
    return pa.table(
        {
            "key": pa.nulls(n, pa.binary()),
            "value": pa.array([r["payload"] for r in records], pa.binary()),
            "topic": pa.array([TOPIC] * n, pa.string()),
            "partition": pa.array(pos % N_PARTITIONS, pa.int32()),
            "offset": pa.array(pos // N_PARTITIONS, pa.int64()),
            "timestamp": pa.array(due * 1000, pa.timestamp("us", tz="UTC")),
            "timestampType": pa.array(np.zeros(n, dtype=np.int32), pa.int32()),
        }
    )


def write_atomic(table, path: str) -> None:
    """Write parquet under a hidden temporary name, then rename: a
    streaming file source never lists a half-written segment."""
    import pyarrow.parquet as pq

    d, name = os.path.split(path)
    tmp = os.path.join(d, f".tmp-{name}")
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_capture(records: list[dict], path: str, n_files: int = 4) -> None:
    """A recorded topic (``KAFKA_SCHEMA`` segments) holding ``records``;
    the analytics_batch toot capture."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, len(records), n_files + 1).astype(int)
    due = int(EVENT_BASE.timestamp() * 1000)
    for f in range(n_files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        write_atomic(
            kafka_table(records[lo:hi], lo, due),
            os.path.join(path, f"segment-{f:05d}.parquet"),
        )


def run_schedule(
    out: str,
    seed: int,
    rate: float,
    seconds: float,
    interval: float,
    start_delay: float,
    event_speedup: float = 1.0,
) -> dict:
    """Generator main loop: pre-generate, then write one segment per
    ``interval`` at its due time, never catching up by skipping.
    Event times span ``seconds * event_speedup``."""
    per_seg = max(1, int(round(rate * interval)))
    n_seg = max(1, int(round(seconds / interval)))
    records = toot_records(seed, per_seg * n_seg, span_s=seconds * event_speedup)
    # build every segment's arrays before the clock starts; only the
    # timestamp column depends on the schedule
    segments = [records[s * per_seg : (s + 1) * per_seg] for s in range(n_seg)]
    os.makedirs(out, exist_ok=True)
    t0 = time.time() + start_delay
    late_max = 0.0
    for s, seg in enumerate(segments):
        due = t0 + s * interval
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        write_atomic(
            kafka_table(seg, s * per_seg, int(due * 1000)),
            os.path.join(out, f"segment-{s:06d}.parquet"),
        )
        late_max = max(late_max, time.time() - due)
    return {
        "start": t0,
        "interval": interval,
        "rows_per_segment": per_seg,
        "segments": n_seg,
        "late_max_s": late_max,
    }


def star_schema(seed: int, scale: float, out: str) -> dict[str, int]:
    """TPC-H-shaped star schema plus ``events``, ``documents`` and
    ``embeddings`` tables with the column layout the engine's query
    catalog reads. ``scale`` = 1.0 is about 600k lineitems. Returns row
    counts per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(20, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = n_ord * 4
    n_events = max(1_000, int(1_000_000 * scale))
    n_users = 150

    def day_us(lo: str, hi: str, n: int) -> np.ndarray:
        a = np.datetime64(lo, "D").astype(np.int64)
        b = np.datetime64(hi, "D").astype(np.int64)
        return rng.integers(a, b + 1, size=n) * 86_400_000_000

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, size=n), 2)

    ts_us = pa.timestamp("us")
    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(-999, 9999, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(["red", "blue", "small", "large", "hot", "old", "green", "dark"], n_part),
                    rng.choice(["ring", "widget", "plate", "anvil", "rod", "bolt", "gear", "pipe"], n_part),
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": pa.array(day_us("1995-01-01", "2001-08-01", n_ord), ts_us),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": pa.array(day_us("1995-01-02", "2001-11-04", n_line), ts_us),
        },
        "events": {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pa.array(
                np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
                + np.datetime64("2024-01-01", "us").astype(np.int64),
                ts_us,
            ),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_events),
            "value": money(0, 100, n_events),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        },
    }
    docs = corpus_texts(rng, max(200, int(5_000 * scale * 10)))
    tables["documents"] = {
        "doc_id": np.arange(len(docs), dtype=np.int64),
        "text": docs,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], len(docs)),
        "source": [f"src{i % 20}" for i in range(len(docs))],
        "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
    }
    vecs = unit_vectors(rng, max(200, int(2_000 * scale * 10)), 64)
    tables["embeddings"] = {
        "vec_id": np.arange(len(vecs), dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(vecs)).astype(np.int32)),
    }
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


_VOCAB = [f"w{i}" for i in range(3000)] + _WORDS


def corpus_texts(rng: np.random.Generator, n: int, lo: int = 30, hi: int = 60) -> list[str]:
    """``n`` toot-sized documents drawn from a 3k-word vocabulary, so
    two independent documents share almost no word 3-grams."""
    lens = rng.integers(lo, hi, size=n)
    return [" ".join(rng.choice(_VOCAB, size=int(k))) for k in lens]


def unit_vectors(rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    v = rng.standard_normal((n, dim))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def neardup_inputs(seed: int, n_store: int, n_files: int, rows_per_file: int, planted_share: float) -> dict:
    """Stored corpora plus a backlog of new rows for the ingest guards.

    Planted rows are near-duplicates of stored rows: a document with one
    word appended (word 3-gram Jaccard above 0.95), a vector with small
    noise added (cosine above 0.99). Every other new row is fresh.
    Returns the stored and new rows with the planted ids."""
    rng = np.random.default_rng(seed)
    store_docs = corpus_texts(rng, n_store)
    store_vecs = unit_vectors(rng, n_store, 64)
    n_new = n_files * rows_per_file
    new_ids = np.arange(1_000_000, 1_000_000 + n_new, dtype=np.int64)
    planted = rng.random(n_new) < planted_share
    src = rng.integers(0, n_store, size=n_new)
    fresh_docs = corpus_texts(rng, n_new)
    fresh_vecs = unit_vectors(rng, n_new, 64)
    noise = rng.standard_normal((n_new, 64)) * 0.01
    new_docs, new_vecs = [], np.empty((n_new, 64))
    for j in range(n_new):
        if planted[j]:
            new_docs.append(store_docs[src[j]] + " " + _VOCAB[int(rng.integers(0, 3000))])
            v = store_vecs[src[j]] + noise[j]
            new_vecs[j] = v / np.linalg.norm(v)
        else:
            new_docs.append(fresh_docs[j])
            new_vecs[j] = fresh_vecs[j]
    return {
        "store_docs": store_docs,
        "store_vecs": store_vecs,
        "new_ids": new_ids,
        "new_docs": new_docs,
        "new_vecs": new_vecs,
        "planted": planted,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="rows per second")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--interval", type=float, default=0.2, help="seconds per segment")
    ap.add_argument("--start-delay", type=float, default=0.5)
    ap.add_argument("--event-speedup", type=float, default=1.0,
                    help="event-time seconds per wall-clock second")
    a = ap.parse_args(argv)
    report = run_schedule(
        a.out, a.seed, a.rate, a.seconds, a.interval, a.start_delay, a.event_speedup
    )
    print(json.dumps(report), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
