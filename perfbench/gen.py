"""Seeded input generators, one per workload.

Each generator takes the seed and a stream number (so two workloads on
the same seed still get different inputs), writes Parquet under the
given directory and returns an ``Inputs`` record: the paths, a SHA-256
digest of the generated tables and their sizes. The program under test
only ever sees the Parquet files.

The vocabularies are spelled out here instead of being read from the
package, so that a change to the program cannot change the inputs.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 30-word soup vocabulary of the documents testdata
SOUP_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
# words of the golden gazetteer entries (Kyiv/Ukraine, New York City, ...)
GOLDEN_WORDS = [
    "Kyiv", "Ukraine", "Dnipro", "Paris", "France", "New", "York", "City",
    "Elon", "Musk", "Tesla",
]
LANGS = ["en", "en", "en", "es", "de", "fr", "zh"]
HTML_PREFIX = "<html><body><p>"
HTML_SUFFIX = "</p></body></html>"
# stream numbers: one independent random stream per workload
STREAMS = {"kg_pages": 1, "admit": 4}


@dataclass
class Inputs:
    paths: dict
    digest: str
    sizes: dict
    extra: dict = field(default_factory=dict)


def _rng(seed: int, workload: str) -> np.random.Generator:
    return np.random.default_rng([seed, STREAMS[workload]])


def _digest_update(h, table: pa.Table) -> None:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    h.update(sink.getvalue().to_pybytes())


def _write_split(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(out_dir, f"part-{i:03d}.parquet"))


def page_texts(rng: np.random.Generator, n_pages: int,
               long_words: tuple[int, int]) -> list[str]:
    """Long-tailed word-soup pages: 99% have 10-80 words, 1% (at least
    one) have ``long_words`` words. The long pages' lengths are evenly
    spaced over that range and one falls in each of as many equal runs
    of pages, so the total work and its spread over the input files vary
    little between seeds."""
    vocab = np.array(SOUP_WORDS + GOLDEN_WORDS)
    lens = rng.integers(10, 81, size=n_pages)
    n_long = max(1, n_pages // 100)
    stride = n_pages // n_long
    long_at = np.arange(n_long) * stride + rng.integers(0, stride,
                                                        size=n_long)
    lens[long_at] = rng.permutation(
        np.linspace(long_words[0], long_words[1], n_long).astype(int))
    words = vocab[rng.integers(0, len(vocab), size=int(lens.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    return [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_pages)]


def gen_pages(seed: int, workload: str, out_dir: str, n_pages: int,
              long_words: tuple[int, int], n_files: int = 8) -> Inputs:
    """pages(url, warc_ts, html, text, lang), split over ``n_files``."""
    rng = _rng(seed, workload)
    texts = page_texts(rng, n_pages, long_words)
    site = rng.integers(0, 100, size=n_pages)
    table = pa.table({
        "url": pa.array([f"https://site-{s}.example/p/{i}"
                         for i, s in enumerate(site)], pa.string()),
        "warc_ts": pa.array(
            np.datetime64("2024-05-01T00:00:00", "us")
            + np.arange(n_pages).astype("timedelta64[s]"),
            pa.timestamp("us")),
        "html": pa.array([(HTML_PREFIX + t + HTML_SUFFIX).encode()
                          for t in texts], pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in
                          rng.integers(0, len(LANGS), size=n_pages)],
                         pa.string()),
    })
    h = hashlib.sha256()
    _digest_update(h, table)
    path = os.path.join(out_dir, "pages")
    _write_split(table, path, n_files)
    n_words = sum(t.count(" ") + 1 for t in texts)
    return Inputs({"pages": path}, h.hexdigest(),
                  {"pages": n_pages, "words": n_words,
                   "text_bytes": sum(len(t) for t in texts)})


def gen_crawl(seed: int, workload: str, out_dir: str, n_batches: int,
              batch_docs: int, n_files: int = 4) -> Inputs:
    """B crawl batches of (doc_id, text). Every batch after the first
    carries exact recrawls and one-word-edited near-copies of earlier
    batches' originals; every batch carries near-copies of its own
    originals. Plants take the highest ids of their batch, so each
    original stays the keeper of its duplicate group. ``extra["planted"]``
    lists the doc ids that admission must suppress."""
    rng = _rng(seed, workload)
    vocab = np.array(SOUP_WORDS)
    originals: list[list[str]] = []   # word lists of earlier originals
    planted: list[int] = []
    h = hashlib.sha256()
    paths = []
    for b in range(n_batches):
        n_old = int(0.10 * batch_docs) if b else 0
        n_new = int(0.04 * batch_docs)
        n_orig = batch_docs - n_old - n_new
        docs = [list(vocab[rng.integers(0, len(vocab),
                                        size=int(rng.integers(100, 161)))])
                for _ in range(n_orig)]
        plants = []
        for j in range(n_old + n_new):
            pool = originals if j < n_old else docs
            src = list(pool[int(rng.integers(0, len(pool)))])
            if j % 2:   # near copy: one word edited
                src[int(rng.integers(0, len(src)))] = "recrawl"
            plants.append(src)
        ids = b * 1_000_000 + np.arange(batch_docs)
        planted.extend(int(i) for i in ids[n_orig:])
        originals.extend(docs)
        order = rng.permutation(batch_docs)
        texts = [" ".join(w) for w in docs + plants]
        table = pa.table({
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
        })
        _digest_update(h, table)
        path = os.path.join(out_dir, f"batch-{b:02d}")
        _write_split(table, path, n_files)
        paths.append(path)
    return Inputs({"batches": paths}, h.hexdigest(),
                  {"batches": n_batches, "docs": n_batches * batch_docs,
                   "planted": len(planted)},
                  {"planted": planted})
