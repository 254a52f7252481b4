"""Seeded CDC input generator and its independently computed expected state.

Everything here is numpy/pyarrow only: the generator shares no code with
the engine (not ``changelog.py``, not the extraction UDF), so the expected
state it derives is a second opinion on what the engine must produce.

Events follow the engine's WAL wire schema
``(url string, lsn bigint, warc_ts timestamp, op string, html binary,
lang string)``. Each html is assembled from tag-wrapped fragments whose
visible text is known by construction: tags become spaces, runs of spaces
collapse, the ends are trimmed, so ``text`` is the fragments joined by
single spaces. Every revision's text starts with ``doc<url id> rev<lsn>``,
so a stale or misrouted row never hashes like the expected one.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LSN_BASE = 1_000
TS_BASE_S = 1_700_000_000  # 2023-11-14T22:13:20Z
LANGS = np.array(["en", "de", "fr", "es", "pt"])
_VOCAB = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu amber basil cedar dune ember fern grove haze "
    "iris jade kelp lotus moss nectar opal pine quartz reed sage thyme umber"
).split()
_N_PARAGRAPHS = 256
_INLINE_TAGS = ("b", "i", "em", "a href=\"/x\"")


@dataclass(frozen=True)
class Spec:
    """Make-up of one workload's change feed."""

    n_events: int
    n_urls: int  # cold url domain (hot urls come on top)
    n_hot: int = 0  # hot urls
    hot_share: float = 0.0  # share of events on the hot urls
    delete_share: float = 0.0  # share of non-first events that delete
    paragraphs: int = 2  # payload size: paragraphs per html
    n_segments: int = 1  # WAL files (one parquet file each)


@dataclass
class Feed:
    """The generated events plus the expected final state."""

    events: pa.Table  # WAL schema, lsn ascending
    url_ids: np.ndarray  # per event, parallel to events
    expected: dict[str, tuple[int, int, str, str]]  # url -> (lsn, ts_us, lang, md5(text))
    deleted: list[str]  # urls whose winning event is a delete


def url_of(ids: np.ndarray) -> pa.Array:
    """``https://site<id % 53>.example/page/<id>`` for each id."""
    ids = np.asarray(ids, dtype=np.int64)
    site = pa.array(ids % 53).cast(pa.string())
    return pc.binary_join_element_wise(
        "https://site", site, ".example/page/", pa.array(ids).cast(pa.string()), ""
    )


def _paragraphs(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    """A pool of paragraphs as (html, visible text) pairs."""
    html, text = [], []
    for _ in range(_N_PARAGRAPHS):
        words = list(rng.choice(_VOCAB, size=int(rng.integers(8, 16))))
        text.append(" ".join(words))
        marked = list(words)
        for j in rng.choice(len(words), size=2, replace=False):
            tag = _INLINE_TAGS[int(rng.integers(len(_INLINE_TAGS)))]
            marked[j] = f"<{tag}>{words[j]}</{tag.split()[0]}>"
        html.append("<p>" + " ".join(marked) + "</p>")
    return np.array(html, dtype=object), np.array(text, dtype=object)


def generate(spec: Spec, seed: int) -> Feed:
    rng = np.random.default_rng(seed)
    n = spec.n_events
    lsn = LSN_BASE + np.arange(n, dtype=np.int64)
    url_ids = rng.integers(0, spec.n_urls, size=n, dtype=np.int64)
    if spec.n_hot:
        hot = rng.random(n) < spec.hot_share
        url_ids[hot] = spec.n_urls + rng.integers(
            0, spec.n_hot, size=int(hot.sum())
        )
    # op: a url's first event inserts; later events delete with
    # delete_share, else update.
    first = np.zeros(n, dtype=bool)
    first[np.unique(url_ids, return_index=True)[1]] = True
    is_del = ~first & (rng.random(n) < spec.delete_share)
    op = np.where(first, "insert", np.where(is_del, "delete", "update"))
    ts_us = (TS_BASE_S + (lsn - LSN_BASE) * 7 + rng.integers(0, 5, size=n)) * 1_000_000
    lang = LANGS[rng.integers(0, len(LANGS), size=n)]

    para_html, para_text = _paragraphs(rng)
    picks = rng.integers(0, _N_PARAGRAPHS, size=(spec.paragraphs, n))
    title = pc.binary_join_element_wise(
        "doc", pa.array(url_ids).cast(pa.string()),
        " rev", pa.array(lsn).cast(pa.string()), "",
    )
    html = pc.binary_join_element_wise(
        "<html><head><title>", title, "</title></head><body>",
        *[pa.array(para_html[p], pa.string()) for p in picks],
        "</body></html>", "",
    )
    text = pc.binary_join_element_wise(
        title, *[pa.array(para_text[p], pa.string()) for p in picks], " "
    )
    html = pc.if_else(pa.array(is_del), pa.scalar(None, pa.string()), html)
    urls = url_of(url_ids)
    events = pa.table(
        {
            "url": urls,
            "lsn": pa.array(lsn),
            "warc_ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "op": pa.array(op),
            "html": html.cast(pa.binary()),
            "lang": pa.array(lang),
        }
    )

    # Expected state: per url the max-lsn event (lsn is ascending, so the
    # last occurrence); absent when that event is a delete.
    rev = np.unique(url_ids[::-1], return_index=True)[1]
    win = np.sort(n - 1 - rev)
    url_list = urls.to_pylist()
    text_list = text.to_pylist()
    expected: dict[str, tuple[int, int, str, str]] = {}
    deleted: list[str] = []
    for i in win.tolist():
        if is_del[i]:
            deleted.append(url_list[i])
        else:
            expected[url_list[i]] = (
                int(lsn[i]),
                int(ts_us[i]),
                str(lang[i]),
                hashlib.md5(text_list[i].encode()).hexdigest(),
            )
    return Feed(events, url_ids, expected, deleted)


def write_segments(feed: Feed, wal_dir: str, n_segments: int) -> list[str]:
    """Land the feed as ``n_segments`` lsn-contiguous parquet files, each
    written under a hidden temp name and renamed into place, so a
    directory listing never shows a partial segment. Returns the paths in
    lsn order."""
    os.makedirs(wal_dir, exist_ok=True)
    bounds = np.linspace(0, feed.events.num_rows, n_segments + 1).astype(int)
    paths = []
    for i in range(n_segments):
        part = feed.events.slice(bounds[i], bounds[i + 1] - bounds[i])
        path = os.path.join(wal_dir, f"seg-{i:05d}.parquet")
        tmp = os.path.join(wal_dir, f".seg-{i:05d}.parquet.tmp")
        pq.write_table(part, tmp, compression="zstd")
        os.replace(tmp, path)
        paths.append(path)
    return paths


def batch_ranges(feed: Feed, n_batches: int) -> list[tuple[int, int]]:
    """``[lo, hi)`` lsn ranges splitting the feed into ``n_batches``
    (the same ceil-span split ``replay_log`` documents)."""
    lsn = feed.events.column("lsn").to_numpy()
    lo, hi = int(lsn.min()), int(lsn.max())
    span = (hi - lo + 1 + n_batches - 1) // n_batches
    return [(lo + i * span, lo + (i + 1) * span) for i in range(n_batches)]


def segment_ranges(feed: Feed, n_segments: int) -> list[tuple[int, int]]:
    """The ``[lo, hi)`` lsn ranges :func:`write_segments` put in each file."""
    lsn = feed.events.column("lsn").to_numpy()
    b = np.linspace(0, len(lsn), n_segments + 1).astype(int)
    return [(int(lsn[b[i]]), int(lsn[b[i + 1] - 1]) + 1) for i in range(n_segments)]


def distinct_urls_between(feed: Feed, lo: int, hi: int) -> int:
    lsn = feed.events.column("lsn").to_numpy()
    return int(np.unique(feed.url_ids[(lsn >= lo) & (lsn < hi)]).size)


def extract_rows_between(feed: Feed, lo: int, hi: int) -> int:
    """Rows the extraction must produce for the ``[lo, hi)`` batch: its
    per-url winners that are not deletes."""
    lsn = feed.events.column("lsn").to_numpy()
    idx = np.flatnonzero((lsn >= lo) & (lsn < hi))
    ids = feed.url_ids[idx][::-1]
    last = idx[::-1][np.unique(ids, return_index=True)[1]]
    ops = feed.events.column("op").to_numpy(zero_copy_only=False)
    return int((ops[last] != "delete").sum())


def probe_keys(
    feed: Feed, seed: int, n_live: int, n_deleted: int, n_unseen: int
) -> list[tuple[str, str]]:
    """Lookup keys drawn by seed: ``(url, kind)`` with kind ``live``,
    ``deleted`` or ``unseen`` (a url no event carries)."""
    rng = np.random.default_rng(seed + 7919)
    live = sorted(feed.expected)
    out = [(live[i], "live") for i in rng.choice(len(live), n_live, replace=False)]
    if n_deleted:
        dead = sorted(feed.deleted)
        picks = rng.choice(len(dead), min(n_deleted, len(dead)), replace=False)
        out += [(dead[i], "deleted") for i in picks]
    top = int(feed.url_ids.max()) + 1
    unseen = url_of(top + rng.integers(0, 1_000_000, size=n_unseen)).to_pylist()
    out += [(u, "unseen") for u in unseen]
    order = rng.permutation(len(out))
    return [out[i] for i in order]
