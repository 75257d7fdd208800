"""Independent reference computations and the checkers built on them.

Nothing here imports the package under test. Each checker returns a
list of problems (empty when the result is correct), so a corrupted
result shows why it was rejected.
"""

from __future__ import annotations

import json
import math
import os
import re
from collections import Counter

import numpy as np

BM25_K1 = 1.2
BM25_B = 0.75
# Scores are printed rounded to 6 decimals; the engine sums partial
# scores in another order than this module, so two correct sums can
# land one unit apart in the last printed digit.
SCORE_TOL = 2.5e-6
COS_TOL = 2.5e-6

_TOKEN = re.compile(r"[a-z0-9]+")
_REPEAT4 = re.compile(r"(.)\1{3}")


def tokens_of(text: str) -> list[str]:
    """The reference tokenizer contract: lowercase, split on anything
    outside [a-z0-9], drop all-digit tokens and tokens with a character
    repeated four times in a row."""
    return [
        t for t in _TOKEN.findall(text.lower())
        if not t.isdigit() and not _REPEAT4.search(t)
    ]


def read_jsonl(files: list[str]) -> list[dict]:
    out = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            out.extend(json.loads(line) for line in fh)
    return out


def corpus_files(corpus_dir: str) -> list[str]:
    return sorted(
        os.path.join(corpus_dir, f)
        for f in os.listdir(corpus_dir)
        if f.endswith(".json")
    )


# ------------------------------------------------------------ percentile

def percentile(samples: list[float], q: float, min_beyond: int = 10):
    """Nearest-rank ``q`` quantile, or None unless at least
    ``min_beyond`` samples lie strictly beyond the reported rank."""
    n = len(samples)
    if n == 0:
        return None
    rank = max(1, math.ceil(q * n))  # 1-based nearest rank
    if n - rank < min_beyond:
        return None
    return sorted(samples)[rank - 1]


def median(samples: list[float]) -> float:
    s = sorted(samples)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


# ----------------------------------------------------------------- build

class CorpusTruth:
    """Term statistics of a generated corpus, from its own text."""

    def __init__(self, records: list[dict]):
        self.doc_ids = [int(r["id"]) for r in records]
        self.meta = {int(r["id"]): (r["url"], r["title"]) for r in records}
        self.tokens = {int(r["id"]): tokens_of(r["text"]) for r in records}
        self.df: Counter = Counter()
        self.cf: Counter = Counter()
        for toks in self.tokens.values():
            c = Counter(toks)
            self.df.update(c.keys())
            self.cf.update(c)
        self.n_tokens = sum(self.cf.values())
        self.n_postings = sum(self.df.values())


def check_build(truth: CorpusTruth, vocab, postings, meta) -> list[str]:
    """``vocab``/``postings``/``meta`` are pyarrow tables read from the
    artifacts. Every word with its exact df, every word's total tf, the
    postings count and one metadata row per document."""
    errs = []
    words = vocab.column("word").to_pylist()
    ids = vocab.column("word_id").to_pylist()
    dfs = vocab.column("df").to_pylist()
    if len(words) != len(truth.df):
        errs.append(f"vocab rows {len(words)} != {len(truth.df)}")
    if dict(zip(words, dfs)) != dict(truth.df):
        errs.append("vocab (word, df) differs from the generated corpus")
    if len(set(ids)) != len(ids):
        errs.append("vocab word_id is not unique")
    if sum(dfs) != truth.n_postings:
        errs.append(f"sum(df) {sum(dfs)} != {truth.n_postings}")
    tf = np.asarray(postings.column("tf").to_pylist(), dtype=np.int64)
    if postings.num_rows != truth.n_postings:
        errs.append(f"postings rows {postings.num_rows} != {truth.n_postings}")
    if int(tf.sum()) != truth.n_tokens:
        errs.append(f"sum(tf) {int(tf.sum())} != {truth.n_tokens}")
    word_of = dict(zip(ids, words))
    cf: Counter = Counter()
    for wid, t in zip(postings.column("word_id").to_pylist(), tf.tolist()):
        cf[word_of.get(wid)] += t
    if cf != truth.cf:
        errs.append("per-word sum(tf) differs from the generated corpus")
    m_ids = meta.column("doc_id").to_pylist()
    if sorted(m_ids) != sorted(truth.doc_ids):
        errs.append("meta doc_ids differ from the corpus ids")
    return errs


# ------------------------------------------------------------------ text

class BM25:
    """Pure-Python/numpy Okapi BM25 over the generated documents:
    ``idf = ln((N - df + 0.5) / (df + 0.5) + 1)``, length-normalized
    saturating tf, query-term multiplicity as a weight."""

    def __init__(self, truth: CorpusTruth, k1=BM25_K1, b=BM25_B):
        self.truth = truth
        self.ids = np.asarray(truth.doc_ids, dtype=np.int64)
        self.pos = pos = {d: i for i, d in enumerate(truth.doc_ids)}
        dl = np.asarray(
            [len(truth.tokens[d]) for d in truth.doc_ids], dtype=np.float64
        )
        n = len(truth.doc_ids)
        avgdl = float(int(dl.sum())) / n
        self.norm = k1 * (1.0 - b + b * (dl / avgdl))
        self.k1, self.n = k1, n
        post: dict[str, tuple[list[int], list[int]]] = {}
        for d, toks in truth.tokens.items():
            for w, c in Counter(toks).items():
                p = post.setdefault(w, ([], []))
                p[0].append(pos[d])
                p[1].append(c)
        self.post = {
            w: (np.asarray(a), np.asarray(t, dtype=np.float64))
            for w, (a, t) in post.items()
        }

    def topk(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        scores = np.zeros(self.n)
        hit = np.zeros(self.n, dtype=bool)
        for w, qtf in Counter(tokens_of(query)).items():
            if w not in self.post:
                continue
            rows, tf = self.post[w]
            df = len(rows)
            idf = math.log((self.n - df + 0.5) / (df + 0.5) + 1.0)
            scores[rows] += idf * (tf * (self.k1 + 1.0)) / (tf + self.norm[rows]) * qtf
            hit[rows] = True
        cand = np.flatnonzero(hit)
        rounded = np.round(scores[cand], 6)
        order = np.lexsort((self.ids[cand], -rounded))[:k]
        return [(int(self.ids[cand][i]), float(scores[cand][i])) for i in order]

    def score(self, query: str, doc_id: int) -> float:
        i = self.pos.get(doc_id)
        if i is None:
            return float("nan")
        s = 0.0
        for w, qtf in Counter(tokens_of(query)).items():
            if w not in self.post:
                continue
            rows, tf = self.post[w]
            hit = np.flatnonzero(rows == i)
            if hit.size:
                df = len(rows)
                idf = math.log((self.n - df + 0.5) / (df + 0.5) + 1.0)
                t = tf[hit[0]]
                s += idf * (t * (self.k1 + 1.0)) / (t + self.norm[i]) * qtf
        return s


def check_text(bm25: BM25, query: str, rows: list[dict], k: int = 10) -> list[str]:
    """``rows`` as printed by the CLI (dicts with doc_id, score, url,
    title). Compares rank by rank with the reference top-k: the score
    at each rank must match, each returned doc must carry its own
    reference score, equal scores must be in doc_id order, and the
    metadata must be the document's own."""
    want = bm25.topk(query, k)
    errs = []
    if len(rows) != len(want):
        return [f"{query!r}: {len(rows)} rows, want {len(want)}"]
    prev = None
    for rank, (row, (wid, wscore)) in enumerate(zip(rows, want), 1):
        did, score = int(row["doc_id"]), float(row["score"])
        if abs(score - wscore) > SCORE_TOL:
            errs.append(f"{query!r} rank {rank}: score {score} != {wscore:.6f}")
        own = bm25.score(query, did)
        if not abs(own - score) <= SCORE_TOL:
            errs.append(f"{query!r} rank {rank}: doc {did} scores {own:.6f}, printed {score}")
        if prev is not None and (
            score > prev[1] + SCORE_TOL
            or (abs(score - prev[1]) < 1e-12 and did < prev[0])
        ):
            errs.append(f"{query!r} rank {rank}: out of order")
        meta = bm25.truth.meta.get(did)
        if meta is None or (row.get("url"), row.get("title")) != meta:
            errs.append(f"{query!r} rank {rank}: wrong url/title for {did}")
        prev = (did, score)
    return errs


# ---------------------------------------------------------------- vector

def exact_topk(vecs: np.ndarray, query: np.ndarray, k: int = 10) -> list[int]:
    sims = cosines(vecs, query)
    order = np.lexsort((np.arange(len(vecs)), -np.round(sims, 6)))
    return [int(i) for i in order[:k]]


def cosines(vecs: np.ndarray, query: np.ndarray) -> np.ndarray:
    v = vecs.astype(np.float64)
    q = query.astype(np.float64)
    return (v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q))


def check_vector(vecs: np.ndarray, query: np.ndarray, rows: list[dict], k: int = 10) -> list[str]:
    """Every returned id must carry its exact cosine, ids must be
    distinct and ordered by (cosine desc, id asc), and k rows must come
    back (the index holds far more than k vectors)."""
    errs = []
    if len(rows) != k:
        errs.append(f"{len(rows)} rows, want {k}")
    ids = [int(r["vec_id"]) for r in rows]
    if len(set(ids)) != len(ids):
        errs.append("duplicate vec_id in result")
    sims = cosines(vecs, query)
    prev = None
    for rank, r in enumerate(rows, 1):
        vid, cos = int(r["vec_id"]), float(r["cos_sim"])
        if not 0 <= vid < len(vecs):
            errs.append(f"rank {rank}: unknown vec_id {vid}")
            continue
        if abs(cos - sims[vid]) > COS_TOL:
            errs.append(f"rank {rank}: vec {vid} cos {cos} != {sims[vid]:.6f}")
        if prev is not None and (
            cos > prev[1] + COS_TOL or (cos == prev[1] and vid < prev[0])
        ):
            errs.append(f"rank {rank}: out of order")
        prev = (vid, cos)
    return errs


def check_same_ids(rows: list[dict], batch_rows: list[dict]) -> list[str]:
    """A single-query answer must list the ids, in order, that the
    batch path gives for the same query over the same index."""
    got = [int(r["vec_id"]) for r in rows]
    want = [int(r["vec_id"]) for r in batch_rows]
    return [] if got == want else [f"ann-query ids {got} differ from ann-batch ids {want}"]


def recall_at_k(got: list[int], exact: list[int]) -> float:
    return len(set(got) & set(exact)) / len(exact)


# ----------------------------------------------------------------- dedup

def shingle_set(tokens: list[str], n: int = 3) -> frozenset:
    return frozenset(" ".join(tokens[i:i + n]) for i in range(len(tokens) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find over ``pairs``: doc -> min doc id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_dedup(
    doc_ids: set[int],
    kept_pairs: list[tuple[int, int, float]],
    groups: list[tuple[int, int]],
    threshold: float,
) -> list[str]:
    """``kept_pairs`` = candidate pairs at or above ``threshold``;
    ``groups`` = (doc_id, group_id) rows. Pairs must be ordered,
    distinct, of known docs and above the threshold; the groups must be
    exactly the connected components of the pairs, labelled by their
    minimum doc id."""
    errs = []
    seen = set()
    for a, b, s in kept_pairs:
        if not a < b:
            errs.append(f"pair ({a}, {b}) not ordered")
        if (a, b) in seen:
            errs.append(f"pair ({a}, {b}) repeated")
        seen.add((a, b))
        if a not in doc_ids or b not in doc_ids:
            errs.append(f"pair ({a}, {b}) names an unknown doc")
        if not threshold <= s <= 1.0:
            errs.append(f"pair ({a}, {b}) est_sim {s} outside [{threshold}, 1]")
    want = components([(a, b) for a, b, _ in kept_pairs])
    got = dict(groups)
    if len(got) != len(groups):
        errs.append("a doc appears in two groups")
    if got != want:
        missing = sorted(set(want) - set(got))[:3]
        extra = sorted(set(got) - set(want))[:3]
        wrong = sorted(d for d in set(got) & set(want) if got[d] != want[d])[:3]
        errs.append(
            f"groups differ from the pair components: missing {missing}, "
            f"extra {extra}, wrong label {wrong}"
        )
    return errs


def dedup_quality(
    shingles: dict[int, frozenset],
    planted: list[tuple[int, int]],
    candidates: list[tuple[int, int, float]],
    groups: list[tuple[int, int]],
    threshold: float,
) -> dict:
    """Recall: share of planted pairs with true Jaccard >= threshold
    whose two docs share a group. Precision: share of candidate pairs
    at or above the threshold whose true Jaccard is too."""
    gid = dict(groups)
    true_pairs = [
        (a, b) for a, b in planted
        if jaccard(shingles[a], shingles[b]) >= threshold
    ]
    found = sum(
        1 for a, b in true_pairs
        if a in gid and b in gid and gid[a] == gid[b]
    )
    good = sum(
        1 for a, b, _ in candidates
        if jaccard(shingles[a], shingles[b]) >= threshold
    )
    return {
        "true_pairs": len(true_pairs),
        "found_pairs": found,
        "recall": found / len(true_pairs) if true_pairs else float("nan"),
        "kept_pairs": len(candidates),
        "good_pairs": good,
        "precision": good / len(candidates) if candidates else float("nan"),
    }
