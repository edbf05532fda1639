"""Seeded input generators, one per workload.

A workload's input is two tables, each in its own directory under the
workload's input directory. Every table is a pure function of ``seed``:
it draws from its own ``numpy.random.Generator`` and is written as
parquet with fixed writer settings, so the same seed gives byte-identical
files. Row counts and word lists are fixed; only the drawn values change
with the seed.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the word lists ("the language") are the same for every seed, so the
#: seed changes which documents are drawn, not how much work they make
LANGUAGE_SEED = 20_240_917

#: the quality scorer's English stopwords, so generated prose scores like prose
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "you", "that", "it")

FEATURE_ROWS = 30_000
FEATURE_FILES = 8
DENSE = ("f0", "f1", "f2", "f3", "f4", "f5")

CRAWL_BASE_DOCS = 750
CRAWL_FILES = 4

TOKEN_DOCS = 200
TOKEN_FILES = 2

STREAM_FILES = 4
STREAM_ROWS_PER_FILE = 300
STREAM_HOSTS = 12


@dataclass
class Inputs:
    """Where a generated table (or a workload's tables) lives and how big it is."""

    path: str
    rows: int
    bytes: int
    #: near-copy pairs planted in the crawl corpus
    planted_pairs: List[Tuple[int, int]] = field(default_factory=list)
    #: per-table sizes of a workload's input: name -> (rows, bytes)
    parts: Dict[str, Tuple[int, int]] = field(default_factory=dict)


def _write(table: pa.Table, out_dir: str, n_files: int) -> int:
    """Split ``table`` into ``n_files`` parquet parts; returns bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(part, path, compression="snappy", use_dictionary=True)
        total += os.path.getsize(path)
    return total


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> List[str]:
    """``n`` distinct lowercase pseudo-words of length ``lo``..``hi``."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: Dict[str, None] = {}
    while len(out) < n:
        length = int(rng.integers(lo, hi + 1))
        out["".join(rng.choice(letters, length))] = None
    return list(out)


def _zipf_probs(n: int, s: float = 1.0, shift: float = 8.0) -> np.ndarray:
    p = 1.0 / (np.arange(n) + shift) ** s
    return p / p.sum()


def impressions(seed: int, out_dir: str) -> Inputs:
    """Impressions: id, binary label, six dense features, two categoricals
    with Zipf-skewed values (a few hundred and a few dozen distinct)."""
    rng = np.random.default_rng([seed, 1])
    n = FEATURE_ROWS
    cols = {
        "imp_id": pa.array(rng.permutation(n).astype(np.int64) * 7 + 3),
        "label": pa.array((rng.random(n) < 0.25).astype(np.int64)),
    }
    for i, name in enumerate(DENSE):
        if i % 2:
            cols[name] = pa.array(rng.lognormal(0.0, 0.75, n))
        else:
            cols[name] = pa.array(rng.normal(float(i), 1.0 + i / 4, n))
    for name, card in (("cat_a", 400), ("cat_b", 40)):
        idx = rng.choice(card, size=n, p=_zipf_probs(card))
        cols[name] = pa.array([f"{name[-1]}{v:04d}" for v in idx.tolist()])
    table = pa.table(cols)
    return Inputs(out_dir, n, _write(table, out_dir, FEATURE_FILES))


def _prose(rng, vocab, probs, n_tokens: int) -> List[str]:
    toks = list(rng.choice(vocab, size=n_tokens, p=probs))
    for pos in rng.choice(n_tokens, size=n_tokens // 4, replace=False):
        toks[pos] = STOPWORDS[int(rng.integers(len(STOPWORDS)))]
    return toks


def crawl(seed: int, out_dir: str) -> Inputs:
    """Crawl corpus: prose documents, a share of low-quality junk pages,
    planted exact copies and planted near-copy clusters (adjacent-token
    swaps, one-token edits and one-token appends of a base document)."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_words(np.random.default_rng(LANGUAGE_SEED), 20_000, 3, 10))
    probs = _zipf_probs(len(vocab), s=0.9, shift=50.0)
    junk = set(rng.choice(CRAWL_BASE_DOCS, size=CRAWL_BASE_DOCS * 8 // 100, replace=False).tolist())
    docs: List[str] = []
    for d in range(CRAWL_BASE_DOCS):
        n_tok = int(rng.integers(40, 100))
        if d in junk:  # junk page: digits and symbols
            toks = [f"{int(rng.integers(1e6))}$#" for _ in range(n_tok // 4)]
        else:
            toks = _prose(rng, vocab, probs, n_tok)
        docs.append(" ".join(toks))
    n_base = len(docs)
    planted: List[Tuple[int, int]] = []  # (base index, copy index)
    for b in rng.choice(n_base, size=n_base // 10, replace=False).tolist():
        docs.append(docs[b])  # exact copy
    for b in rng.choice(n_base, size=n_base // 12, replace=False).tolist():
        toks = docs[b].split(" ")
        for _ in range(2):
            kind = int(rng.integers(3))
            t = list(toks)
            if kind == 0:
                i = int(rng.integers(len(t) - 1))
                t[i], t[i + 1] = t[i + 1], t[i]
            elif kind == 1:
                t[int(rng.integers(len(t)))] = str(rng.choice(vocab))
            else:
                t.append(str(rng.choice(vocab)))
            planted.append((b, len(docs)))
            docs.append(" ".join(t))
    order = rng.permutation(len(docs))
    ids = np.empty(len(docs), dtype=np.int64)
    ids[order] = np.arange(len(docs), dtype=np.int64) * 3 + 11
    table = pa.table(
        {
            "doc_id": pa.array(ids[order]),
            "url": pa.array([f"https://h{i % 97}.example/p/{i}" for i in order.tolist()]),
            "text": pa.array([docs[i] for i in order.tolist()]),
        }
    )
    pairs = [tuple(sorted((int(ids[a]), int(ids[c])))) for a, c in planted]
    return Inputs(out_dir, len(docs), _write(table, out_dir, CRAWL_FILES), pairs)


def corpus(seed: int, out_dir: str) -> Inputs:
    """Tokenizer corpus: words built from shared stems and suffixes, so
    subword merges have real structure, plus a long tail of rare words."""
    rng = np.random.default_rng([seed, 3])
    language = np.random.default_rng(LANGUAGE_SEED)
    stems = _words(language, 200, 3, 6)
    suffixes = ["", "s", "ing", "ed", "er", "ers", "ly", "ness", "ment", "able"]
    lexicon = [s + x for s in stems for x in suffixes] + _words(language, 800, 4, 9)
    probs = _zipf_probs(len(lexicon), s=0.8, shift=20.0)
    texts = []
    for _ in range(TOKEN_DOCS):
        texts.append(" ".join(rng.choice(lexicon, size=int(rng.integers(15, 45)), p=probs)))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(TOKEN_DOCS, dtype=np.int64) + 1),
            "text": pa.array(texts),
        }
    )
    return Inputs(out_dir, TOKEN_DOCS, _write(table, out_dir, TOKEN_FILES))


def backlog(seed: int, out_dir: str) -> Inputs:
    """Backlog of crawl-batch files: (digest, host, url) fetch records in
    which a page is re-fetched across batches (same digest, host and url),
    with per-host URL sets of very different sizes."""
    rng = np.random.default_rng([seed, 4])
    n = STREAM_FILES * STREAM_ROWS_PER_FILE
    host_w = _zipf_probs(STREAM_HOSTS, s=1.1, shift=1.0)
    hosts = rng.choice(STREAM_HOSTS, size=n, p=host_w)
    # a page is (host, path); ~40% of fetches revisit an earlier page
    paths = rng.integers(0, int(n * 0.6), size=n)
    urls = [f"https://host{h:02d}.example/{p}" for h, p in zip(hosts.tolist(), paths.tolist())]
    digests = [hashlib.md5(u.encode()).hexdigest() for u in urls]
    table = pa.table(
        {
            "digest": pa.array(digests),
            "host": pa.array([f"host{h:02d}" for h in hosts.tolist()]),
            "url": pa.array(urls),
        }
    )
    return Inputs(out_dir, n, _write(table, out_dir, STREAM_FILES))


def _workload(*tables):
    """A generator for a workload made of ``tables``; each table goes to
    a directory named after its generator function, which is where the
    passes and the references read it."""

    def make(seed: int, out_dir: str) -> Inputs:
        made = {t.__name__: t(seed, os.path.join(out_dir, t.__name__)) for t in tables}
        return Inputs(
            out_dir,
            sum(m.rows for m in made.values()),
            sum(m.bytes for m in made.values()),
            [p for m in made.values() for p in m.planted_pairs],
            {name: (m.rows, m.bytes) for name, m in made.items()},
        )

    return make


GENERATORS = {
    "feature_and_token_train": _workload(impressions, corpus),
    "near_dup_and_stream_drain": _workload(crawl, backlog),
}
