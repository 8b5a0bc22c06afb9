"""Output checks. Each returns a list of failure messages (empty = all
outputs correct).

Catalog entries are compared with their DuckDB oracle SQL on the same
files, by row count, column names and the order-insensitive value hash
of ``tools/verify_local.table_hash``. The seven batch toot tables are
compared with the DuckDB SQL below, run over the generator's ground
truth (so the engine's timestamp parsing is checked too).
"""

from __future__ import annotations

import datetime as dt
from collections import defaultdict

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")

# The reference's batch chain (clean -> seven tables) in DuckDB SQL.
# ``raw`` holds one row per JSON toot: id, username, text, hashtags as
# sent, and created_at as the instant its string denotes (NULL when no
# layout parses it).
TOOT_CLEAN_SQL = """
CREATE TEMP TABLE clean AS
SELECT id, username, text, hashtags, created_at FROM (
    SELECT id, trim(username) AS username, trim(text) AS text, hashtags, created_at,
           row_number() OVER (PARTITION BY id
                              ORDER BY created_at DESC NULLS LAST, trim(username) ASC) AS rn
    FROM raw
    WHERE id IS NOT NULL AND username IS NOT NULL AND text IS NOT NULL AND trim(text) <> ''
) WHERE rn = 1
"""

TOOT_TABLE_SQL = {
    "hourly_toot_counts":
        "SELECT date_trunc('hour', created_at) AS hour, count(*) AS toots FROM clean GROUP BY 1",
    "daily_toot_counts":
        "SELECT CAST(created_at AS DATE) AS day, count(*) AS toots FROM clean GROUP BY 1",
    "user_activity_counts":
        "SELECT username, count(*) AS toot_count FROM clean GROUP BY username",
    "active_users":
        "SELECT username, count(*) AS toot_count FROM clean GROUP BY username HAVING count(*) >= 5",
    "hashtags_per_day_counts": """
        SELECT CAST(created_at AS DATE) AS day, lower(trim(h)) AS hashtag, count(*) AS cnt
        FROM clean, unnest(hashtags) AS t(h)
        WHERE lower(trim(h)) <> '' GROUP BY 1, 2""",
    "top_hashtag_per_day": """
        SELECT day, hashtag, cnt FROM (
            SELECT *, row_number() OVER (PARTITION BY day ORDER BY cnt DESC, hashtag ASC) AS rn
            FROM (SELECT CAST(created_at AS DATE) AS day, lower(trim(h)) AS hashtag, count(*) AS cnt
                  FROM clean, unnest(hashtags) AS t(h)
                  WHERE lower(trim(h)) <> '' GROUP BY 1, 2)
        ) WHERE rn = 1""",
    "avg_toot_length_by_user_batch":
        "SELECT username, round(avg(length(text)), 6) AS avg_len FROM clean GROUP BY username",
}


def _compare(name: str, got: tuple[list, list], want_cols: list, want_rows: list) -> list[str]:
    from tools.verify_local import table_hash

    cols, rows = got
    if len(rows) != len(want_rows):
        return [f"{name}: {len(rows)} rows, oracle {len(want_rows)}"]
    if sorted(cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(cols)}, oracle {sorted(want_cols)}"]
    if table_hash(cols, rows) != table_hash(want_cols, want_rows):
        return [f"{name}: values differ from the oracle"]
    return []


def check_catalog(data_dir: str, oracles: dict[str, str | None], results: dict) -> list[str]:
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failures = []
    for name, sql in oracles.items():
        if name not in results:
            failures.append(f"{name}: no result")
        elif sql is not None:
            res = con.sql(sql)
            failures += _compare(name, results[name], [d[0] for d in res.description], res.fetchall())
    con.close()
    return failures


def _raw_rows(records: list[dict]) -> list[tuple]:
    """Ground truth per JSON toot, as the raw payload carried it."""
    import json

    rows = []
    for r in records:
        if "id" not in r:
            continue  # junk line: parses to an all-null row, dropped by id
        doc = json.loads(r["payload"])
        ts = None
        if r["created_ms"] is not None:
            ts = dt.datetime.fromtimestamp(r["created_ms"] / 1000.0, tz=dt.timezone.utc).replace(tzinfo=None)
        rows.append((doc["id"], doc["username"], doc["text"], doc["hashtags"], ts))
    return rows


def check_toot_tables(records: list[dict], results: dict) -> list[str]:
    import duckdb
    import pyarrow as pa

    rows = _raw_rows(records)
    raw = pa.table({
        "id": [r[0] for r in rows],
        "username": [r[1] for r in rows],
        "text": [r[2] for r in rows],
        "hashtags": pa.array([r[3] for r in rows], pa.list_(pa.string())),
        "created_at": pa.array([r[4] for r in rows], pa.timestamp("us")),
    })
    con = duckdb.connect()
    con.register("raw", raw)
    con.sql(TOOT_CLEAN_SQL)
    failures = []
    for name, sql in TOOT_TABLE_SQL.items():
        if name not in results:
            failures.append(f"{name}: no result")
            continue
        res = con.sql(sql)
        failures += _compare(name, results[name], [d[0] for d in res.description], res.fetchall())
    con.close()
    return failures


def check_toot_stream_aggregates(
    records: list[dict], minute_rows: list[tuple], avg_len: dict[str, float]
) -> list[str]:
    """The streaming job's two aggregates after the stream drained.

    ``avg_length_by_user`` (complete mode) must equal the average over
    every valid toot. ``minute_counts`` (update mode, 10-minute
    watermark) keeps the highest count emitted per window; a window
    holding no late toot must match the full count exactly, while a
    window of late toots may miss those the watermark dropped.
    """
    failures = []
    lengths = defaultdict(list)
    want = defaultdict(int)
    late_windows = set()
    for r in records:
        if not r["valid"]:
            continue
        lengths[r["username"]].append(len(r["text"]))
        if r["created_ms"] is not None:
            start = r["created_ms"] // 60_000 * 60_000
            want[start] += 1
            if r["late"]:
                late_windows.add(start)
    for user, ls in lengths.items():
        exp = round(sum(ls) / len(ls), 6)
        if user not in avg_len or abs(avg_len[user] - exp) > 1e-6:
            failures.append(f"avg_length_by_user: {user} has {avg_len.get(user)}, expected {exp}")
    if set(avg_len) - set(lengths):
        failures.append("avg_length_by_user: users no valid toot explains")
    got = {}
    for window_start, _window_end, cnt in minute_rows:
        ms = int(window_start.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
        got[ms] = max(got.get(ms, 0), cnt)
    for start, exp in want.items():
        g = got.get(start, 0)
        if start in late_windows and not 0 <= g <= exp or start not in late_windows and g != exp:
            failures.append(f"minute_counts: window {start} counted {g}, expected {exp}")
    if set(got) - set(want):
        failures.append("minute_counts: windows no valid toot explains")
    return failures
