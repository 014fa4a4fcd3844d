"""Seeded input generators for the workloads.

Every input is a pure function of ``(seed, size)``: the same seed always
yields the same rows. The corpus has the shape of
``pyradiomics_spark.sources.pages`` (hosts with a Zipf-like skew, 1-12
snapshots per url at irregular minute-to-day gaps, the rendered page
template with Latin-1 accents), but it is generated here with numpy so
that a change to the program's own generator cannot change the
benchmark's inputs, and so that set-up stays short. A seed owns the url
index range ``[seed * 10**6, (seed + 1) * 10**6)``, so two seeds never
share a url.

Inputs are written with pyarrow to parquet files; the program only ever
sees those files. ``write_extract`` and ``write_pit`` commit a workload's
inputs and return their properties; the benchmark calls them in its side
process (``sidecar.py``).
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "data spark web page crawl index token stream batch shuffle join scan "
    "filter window merge sort group host fetch parse render cache store "
    "query plan stage task executor driver partition skew salt bucket "
    "feature vector texture level run zone entropy energy contrast"
).split()
LANGS = ("en", "de", "fr", "nl", "zz")
N_HOSTS = 50
EPOCH_US = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp() * 1e6)
MINUTE_US = 60 * 10**6
DAY_US = 24 * 60 * MINUTE_US

#: Typography that real crawl text carries and the template does not:
#: en/em dashes, curly quotes and apostrophes, and the no-break space
#: (U+00A0), which ``str.split`` treats as whitespace.
TYPO_SNIPPETS = (
    "2019\u20132024", "\u2014", "\u201cquoted\u201d", "host\u2019s",
    "see\u00a0also",
)

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose)."""
    return np.random.default_rng([seed, sum(map(ord, stream)), len(stream)])


def _zipf_hosts(rng: np.random.Generator, n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, N_HOSTS + 1) ** 1.2
    return rng.choice(N_HOSTS, size=n, p=w / w.sum())


def _render(words: list, snap: int) -> str:
    """Text as ``extract_text`` renders the page template."""
    title = " ".join(words[:4])
    body = " ".join(words)
    return (f"{title} {title} & more {body} "
            f"café straße <tag> \"q{snap}\"")


def pages(seed: int, n_docs: int, typo_share: float = 0.0) -> dict:
    """Exactly ``n_docs`` page snapshots.

    Returns a dict of numpy/list columns (url, warc_ts as epoch micros,
    text, lang) plus ``typo`` (bool per doc). With ``typo_share`` > 0 that
    share of documents, chosen by the seed, carries the snippets of
    ``TYPO_SNIPPETS``."""
    rng = _rng(seed, "pages")
    snaps = rng.integers(1, 13, size=n_docs)           # upper bound on urls
    snaps = snaps[: int(np.searchsorted(np.cumsum(snaps), n_docs)) + 1]
    snaps[-1] -= int(snaps.sum()) - n_docs
    n_urls = snaps.size
    url_ids = seed * 10**6 + np.arange(n_urls)
    hosts = _zipf_hosts(rng, n_urls)
    n_words = 30 + rng.integers(0, 400, size=n_urls)
    t0 = EPOCH_US + rng.integers(0, 60 * 24 * 30, size=n_urls) * MINUTE_US
    langs = rng.integers(0, len(LANGS), size=n_urls)

    url_of = np.repeat(np.arange(n_urls), snaps)
    snap_no = np.arange(n_docs) - np.repeat(np.cumsum(snaps) - snaps, snaps)
    gaps = (5 + rng.integers(0, 60 * 24 * 3, size=n_docs)) * MINUTE_US
    gaps[snap_no == 0] = 0
    # ts = url start + cumulative gap within the url (strictly increasing)
    cum = np.cumsum(gaps)
    ts = t0[url_of] + cum - np.repeat(cum[np.cumsum(snaps) - snaps], snaps)

    doc_words = n_words[url_of]
    word_idx = rng.integers(0, len(WORDS), size=int(doc_words.sum()))
    bounds = np.concatenate([[0], np.cumsum(doc_words)])
    typo = np.zeros(n_docs, dtype=bool)
    if typo_share > 0:
        typo[rng.choice(n_docs, size=round(n_docs * typo_share),
                        replace=False)] = True
    texts = []
    word_list = word_idx.tolist()
    for i in range(n_docs):
        words = [WORDS[j] for j in word_list[bounds[i]:bounds[i + 1]]]
        if typo[i]:
            for k, snip in enumerate(TYPO_SNIPPETS):
                if k == len(TYPO_SNIPPETS) - 1 and i % 4:
                    continue  # the no-break space sits in 1 of 4 such docs
                words.insert(int(rng.integers(0, len(words) + 1)), snip)
        texts.append(_render(words, int(snap_no[i])))
    urls = [f"https://host{hosts[u]:03d}.example/p{url_ids[u]}"
            for u in range(n_urls)]
    return {
        "url": [urls[u] for u in url_of],
        "warc_ts": ts,
        "text": texts,
        "lang": [LANGS[langs[u]] for u in url_of],
        "typo": typo,
        "n_urls": n_urls,
    }


def write_parquet(table: pa.Table, path: str, files: int) -> None:
    """Commit ``table`` as ``files`` parquet files under ``path``,
    replacing whatever is there."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for k in range(files):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{k:05d}.parquet"))


def pages_table(cols: dict) -> pa.Table:
    return pa.table({
        "url": cols["url"],
        "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us", tz="UTC")),
        "text": cols["text"],
        "lang": cols["lang"],
    }, schema=PAGES_SCHEMA)


def pit_split(seed: int, cols: dict, holdback: float, late: float) -> tuple:
    """(held, newest) boolean masks. Held-back snapshots are the newest
    ``holdback`` share by timestamp plus a ``late`` share of older ones
    (late, out-of-order arrivals)."""
    ts = cols["warc_ts"]
    n = ts.size
    newest = np.zeros(n, dtype=bool)
    newest[np.argsort(ts, kind="stable")[n - round(n * holdback):]] = True
    rng = _rng(seed, "late")
    older = np.nonzero(~newest)[0]
    late_idx = rng.choice(older, size=round(n * late), replace=False)
    held = newest.copy()
    held[late_idx] = True
    return held, newest


def cut_grid(seed: int, cols: dict, keep: float) -> pa.Table:
    """Daily cut timestamps per url from its first snapshot's day to one
    day past its last snapshot; each day is kept with probability
    ``keep`` so the grid has gaps (and so sessions). Cut times sit at a
    seeded minute of the day, so some cuts tie snapshots only by chance."""
    rng = _rng(seed, "cuts")
    urls = np.asarray(cols["url"], dtype=object)
    ts = cols["warc_ts"]
    # url rows are contiguous and time-ordered within a url
    starts = np.concatenate([[0], np.nonzero(urls[1:] != urls[:-1])[0] + 1])
    ends = np.concatenate([starts[1:], [urls.size]])
    first_day = ts[starts] // DAY_US
    last_day = ts[ends - 1] // DAY_US + 1
    n_days = last_day - first_day + 1
    u_of = np.repeat(np.arange(starts.size), n_days)
    day = np.repeat(first_day, n_days) + (
        np.arange(n_days.sum()) - np.repeat(np.cumsum(n_days) - n_days, n_days))
    minute = rng.integers(0, 24 * 60, size=day.size)
    kept = rng.random(day.size) < keep
    cut_ts = day * DAY_US + minute * MINUTE_US
    return pa.table({
        "url": pa.array(urls[starts][u_of[kept]].tolist(), pa.string()),
        "cut_ts": pa.array(cut_ts[kept], pa.timestamp("us", tz="UTC")),
    })


def write_extract(seed: int, n_docs: int, path: str, files: int) -> dict:
    """Commit the ``extract`` corpus under ``path``; returns its
    properties."""
    cols = pages(seed, n_docs)
    write_parquet(pages_table(cols), path, files)
    return {"rows": n_docs, "urls": cols["n_urls"],
            "tokens": sum(len(t.split()) for t in cols["text"]),
            "files": files}


def write_pit(seed: int, n_docs: int, typo_share: float, holdback: float,
              late: float, cut_keep: float, paths: dict, files: int) -> dict:
    """Commit the ``pit_refresh`` inputs: all pages, the base crawl (pages
    less the held-back ones), the held-back increment and the cut grid,
    at ``paths["pages"|"base"|"increment"|"cuts"]``; returns their
    properties."""
    cols = pages(seed, n_docs, typo_share)
    held, newest = pit_split(seed, cols, holdback, late)
    table = pages_table(cols)
    write_parquet(table, paths["pages"], files)
    write_parquet(table.filter(pa.array(~held)), paths["base"], files)
    write_parquet(table.filter(pa.array(held)), paths["increment"], files)
    cuts = cut_grid(seed, cols, cut_keep)
    write_parquet(cuts, paths["cuts"], max(files // 2, 1))
    return {"rows": n_docs, "urls": cols["n_urls"],
            "snapshots_per_url": n_docs / cols["n_urls"],
            "typographic_share": float(cols["typo"].mean()),
            "typographic_held_back": int((cols["typo"] & held).sum()),
            "held_back": int(held.sum()),
            "held_back_newest": int(newest.sum()),
            "held_back_late": int((held & ~newest).sum()),
            "cuts": cuts.num_rows}
