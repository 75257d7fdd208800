"""Seeded input generators.

Everything a workload feeds the engine is made here from ``--seed``
before the clock starts, so generation never counts as set-up time.
The package under test only ever sees the files written to disk.

- A Zipf corpus (exponent 1.05 over ~40 k lowercase a-z words, 40-200
  tokens a doc) written as WikiExtractor JSON lines ``{id, url,
  title, text}``. Words never repeat a letter four times in a row and
  sprinkled numbers are all digits, so the tokenizer's output is known
  exactly: the kept tokens are the generator's words.
- Clustered 64-d embeddings (a Gaussian mixture) as a parquet table
  ``(vec_id long, embedding array<float>)`` plus fresh query vectors
  drawn from the same mixture and never stored in the index.
- A dedup corpus in which a fixed share of documents are planted
  near-copies of another document, made with a few percent of token
  edits.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

# Bump when a generator's output changes, so cached inputs rebuild.
GEN_VERSION = 3

ZIPF_S = 1.05
VOCAB_WORDS = 40_000
DOC_TOKENS = (40, 200)
NUMBER_SHARE = 0.02
SHARDS = 8

EMB_DIM = 64
EMB_CLUSTERS = 24
EMB_NOISE = 0.5


@dataclass
class Corpus:
    """Generated documents and their known token lists."""

    doc_ids: list[int]
    tokens: list[list[str]]  # kept tokens, in order
    input_bytes: int = 0
    files: list[str] = field(default_factory=list)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, purpose)."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag])


def make_vocabulary(seed: int, n: int = VOCAB_WORDS) -> list[str]:
    """``n`` distinct a-z words of 2-10 letters, none with a letter
    repeated four times in a row (the tokenizer would drop it)."""
    rng = _rng(seed, "vocab")
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        lens = rng.integers(2, 11, size=n)
        chars = letters[rng.integers(0, 26, size=(n, 10))]
        for row, ln in zip(chars, lens):
            w = row[:ln].tobytes().decode()
            if w in seen or any(
                w[i] == w[i + 1] == w[i + 2] == w[i + 3]
                for i in range(len(w) - 3)
            ):
                continue
            seen.add(w)
            words.append(w)
            if len(words) == n:
                break
    # Frequent words are short, as in natural language: popularity rank
    # follows length, so every seed's corpus has the same byte profile.
    return sorted(words, key=len)


def zipf_probs(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def sample_docs(
    rng: np.random.Generator, words: list[str], n_docs: int
) -> list[list[str]]:
    """Token lists with Zipf word popularity and uniform lengths."""
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, size=n_docs)
    ids = rng.choice(len(words), size=int(lens.sum()), p=zipf_probs(len(words)))
    out, pos = [], 0
    for ln in lens:
        out.append([words[i] for i in ids[pos:pos + ln]])
        pos += ln
    return out


def render_text(rng: np.random.Generator, toks: list[str]) -> str:
    """Surface text for a token list: capitalized first word, a few
    all-digit numbers (dropped by the tokenizer), commas and a final
    period (punctuation becomes whitespace)."""
    parts = []
    for i, t in enumerate(toks):
        if rng.random() < NUMBER_SHARE:
            parts.append(str(int(rng.integers(0, 3000))))
        parts.append(t.capitalize() if i == 0 else t)
        if rng.random() < 0.05:
            parts[-1] += ","
    return " ".join(parts) + "."


def write_corpus(
    rng: np.random.Generator,
    out_dir: str,
    doc_ids: list[int],
    tokens: list[list[str]],
    words: list[str],
) -> Corpus:
    """WikiExtractor JSON lines, split into ``SHARDS`` files."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(doc_ids) // SHARDS)
    files, total = [], 0
    for s in range(SHARDS):
        path = os.path.join(out_dir, f"wiki_{s:02d}.json")
        with open(path, "w", encoding="utf-8", newline="\n") as fh:
            for j in range(s * per, min(len(doc_ids), (s + 1) * per)):
                title = " ".join(
                    words[int(i)].capitalize()
                    for i in rng.integers(0, 2000, size=2)
                )
                rec = {
                    "id": str(doc_ids[j]),
                    "url": f"https://en.wikipedia.org/wiki?curid={doc_ids[j]}",
                    "title": title,
                    "text": render_text(rng, tokens[j]),
                }
                fh.write(json.dumps(rec, separators=(",", ":")) + "\n")
        total += os.path.getsize(path)
        files.append(path)
    return Corpus(doc_ids, tokens, total, files)


def text_corpus(seed: int, n_docs: int, out_dir: str) -> Corpus:
    words = make_vocabulary(seed)
    rng = _rng(seed, "docs")
    tokens = sample_docs(rng, words, n_docs)
    return write_corpus(rng, out_dir, list(range(1, n_docs + 1)), tokens, words)


def query_pool(
    seed: int, corpus: Corpus, n_pool: int, n_stream: int
) -> tuple[list[str], list[int]]:
    """``n_pool`` distinct 1-4-term queries whose terms follow corpus
    term popularity (drawn from random token positions, so head terms
    with long posting lists dominate), and a stream of ``n_stream``
    pool indices with Zipf(1.0) query popularity, so some queries
    repeat as in real logs."""
    rng = _rng(seed, "queries")
    flat = [t for toks in corpus.tokens for t in toks]
    pool: list[str] = []
    seen: set[str] = set()
    while len(pool) < n_pool:
        n_terms = int(rng.integers(1, 5))
        q = " ".join(flat[int(i)] for i in rng.integers(0, len(flat), n_terms))
        if q not in seen:
            seen.add(q)
            pool.append(q)
    stream = rng.choice(n_pool, size=n_stream, p=zipf_probs(n_pool, 1.0))
    return pool, [int(i) for i in stream]


def embeddings(
    seed: int, n_vecs: int, n_queries: int, path: str
) -> tuple[np.ndarray, np.ndarray]:
    """Gaussian-mixture vectors written as parquet, and fresh query
    vectors from the same mixture. Both are float32, exactly as the
    engine stores and parses them."""
    rng = _rng(seed, "embed")
    centers = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))

    def draw(n: int) -> np.ndarray:
        c = rng.integers(0, EMB_CLUSTERS, size=n)
        x = centers[c] + EMB_NOISE * rng.normal(size=(n, EMB_DIM))
        return x.astype(np.float32)

    vecs, queries = draw(n_vecs), draw(n_queries)
    write_vectors(path, np.arange(n_vecs), vecs)
    return vecs, queries


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    """A ``(vec_id long, embedding array<float>)`` parquet table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array(ids.astype(np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, path)


def dedup_corpus(
    seed: int, n_docs: int, copy_share: float, edit_rate: float, out_dir: str
) -> tuple[Corpus, list[tuple[int, int]]]:
    """``n_docs`` documents of which ``copy_share`` are planted
    near-copies: each copy takes a random earlier original and, per
    token with probability ``edit_rate``, substitutes, deletes or
    inserts a word. Returns the corpus and the planted (original,
    copy) id pairs. Copy ids are shuffled among the originals so no
    id range marks them."""
    words = make_vocabulary(seed)
    rng = _rng(seed, "dedup")
    n_copies = int(round(n_docs * copy_share))
    n_orig = n_docs - n_copies
    originals = sample_docs(rng, words, n_orig)
    probs = zipf_probs(len(words))
    tokens = list(originals)
    src = rng.integers(0, n_orig, size=n_copies)
    fill = iter(rng.choice(len(words), size=n_copies * DOC_TOKENS[1], p=probs))
    for s in src:
        out = []
        for t in originals[int(s)]:
            r = rng.random()
            if r < edit_rate / 3:
                out.append(words[int(next(fill))])
            elif r < 2 * edit_rate / 3:
                continue
            elif r < edit_rate:
                out.extend([t, words[int(next(fill))]])
            else:
                out.append(t)
        tokens.append(out)
    ids = rng.permutation(n_docs) + 1
    doc_ids = [int(i) for i in ids]
    planted = [
        (doc_ids[int(s)], doc_ids[n_orig + j]) for j, s in enumerate(src)
    ]
    planted = [(min(a, b), max(a, b)) for a, b in planted]
    return write_corpus(rng, out_dir, doc_ids, tokens, words), planted
