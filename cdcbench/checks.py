"""Output checks against the generator's expected state.

Every check reads the table through the engine's public read paths and
compares with what ``gen.py`` derived on its own; each returns a list of
problems (empty when the table is right). ``run.py --self-test`` corrupts a
table on purpose and shows that these lists come back non-empty.
"""

from __future__ import annotations

import glob
import os
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gen import Feed, distinct_urls_between


def check_state(table, feed: Feed) -> list[str]:
    """``read()`` equals the expected state: row count, one row per url,
    url set, and per url lsn, warc_ts, lang and text hash."""
    out = table.read().select(
        "url",
        "lsn",
        F.unix_micros("warc_ts").alias("ts"),
        "lang",
        F.md5(F.col("text")).alias("h"),
    ).toArrow()
    urls, *cols = (out.column(c).to_pylist() for c in ("url", "lsn", "ts", "lang", "h"))
    got = dict(zip(urls, zip(*cols)))
    want = feed.expected
    probs = []
    if out.num_rows != len(want):
        probs.append(f"read(): {out.num_rows} rows, expected {len(want)}")
    dup = [u for u, n in Counter(urls).items() if n > 1]
    if dup:
        probs.append(f"read(): {len(dup)} urls on more than one row, e.g. {min(dup)}")
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    if missing:
        probs.append(f"read(): {len(missing)} urls missing, e.g. {min(missing)}")
    if extra:
        probs.append(f"read(): {len(extra)} unexpected urls, e.g. {min(extra)}")
    wrong = [u for u in want.keys() & got.keys() if got[u] != want[u]]
    if wrong:
        u = min(wrong)
        probs.append(
            f"read(): {len(wrong)} urls differ, e.g. {u}: {got[u]} != {want[u]}"
        )
    return probs


def check_lookup(url: str, kind: str, rows, feed: Feed) -> list[str]:
    """One lookup's rows: the expected row for a live key, none for a
    deleted or never-seen key."""
    if kind != "live":
        return [f"lookup({url}) [{kind}] returned {len(rows)} rows"] if rows else []
    if len(rows) != 1:
        return [f"lookup({url}) returned {len(rows)} rows, expected 1"]
    r = rows[0]
    got = (r["lsn"], r["ts"], r["lang"], r["h"])
    return [] if got == feed.expected[url] else [
        f"lookup({url}): {got} != {feed.expected[url]}"
    ]


def lookup_rows(df):
    return df.select(
        "lsn", F.unix_micros("warc_ts").alias("ts"), "lang",
        F.md5(F.col("text")).alias("h"),
    ).collect()


def check_read_since(table, feed: Feed) -> list[str]:
    """``read_since(X)`` returns exactly the live urls whose winning lsn
    is greater than X, for X at the median winning lsn."""
    lsns = sorted(v[0] for v in feed.expected.values())
    x = lsns[len(lsns) // 2]
    want = {u for u, v in feed.expected.items() if v[0] > x}
    got = {r[0] for r in table.read_since(x).select("url").collect()}
    if got == want:
        return []
    return [
        f"read_since({x}): {len(got - want)} extra, {len(want - got)} missing"
    ]


def check_compacted(table) -> list[str]:
    """After compaction every bucket holds at most one data file."""
    snap = table.current()
    fat = {b: len(es) for b, es in table.all_entries(snap).items() if len(es) > 1}
    return [f"buckets with >1 file after compaction: {fat}"] if fat else []


def commit_metrics(root: str) -> list[dict]:
    files = glob.glob(os.path.join(root, "_metrics", "commits", "*.parquet"))
    return [r for f in files for r in pq.read_table(f).to_pylist()]


def check_flow(table, feed: Feed, batches: list[tuple[int, int]]) -> list[str]:
    """Commit metrics: ``events_read`` sums to the event count and each
    commit's ``events_applied`` is the distinct-url count of its batch
    (compared as multisets: stream epochs map to segments)."""
    recs = commit_metrics(table.root)
    probs = []
    n_read = sum(r["events_read"] or 0 for r in recs)
    if n_read != feed.events.num_rows:
        probs.append(f"sum(events_read) {n_read} != {feed.events.num_rows}")
    got = sorted(r["events_applied"] for r in recs)
    want = sorted(distinct_urls_between(feed, lo, hi) for lo, hi in batches)
    if got != want:
        probs.append(f"events_applied per commit {got} != {want}")
    return probs
