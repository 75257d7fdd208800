"""Self-tests of the benchmark harness (no Spark needed):

    python3 -m pytest searchbench/test_searchbench.py -q
"""

from __future__ import annotations

import json
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pytest

from searchbench import gen, layers, oracle, run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(path):
        for n in names:
            full = os.path.join(dirpath, n)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, path)] = fh.read()
    return out


# ------------------------------------------------------------ determinism

@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_same_seed_same_bytes_other_seed_differs(tmp_path, workload):
    a, _ = workloads.load_inputs(workload, 7, str(tmp_path / "a"))
    b, _ = workloads.load_inputs(workload, 7, str(tmp_path / "b"))
    c, _ = workloads.load_inputs(workload, 8, str(tmp_path / "c"))
    ta, tb, tc = _tree_bytes(a), _tree_bytes(b), _tree_bytes(c)
    assert ta == tb
    assert ta.keys() == tc.keys()
    assert all(ta[k] != tc[k] for k in ta)


def test_generated_tokens_are_what_the_tokenizer_keeps(tmp_path):
    corpus = gen.text_corpus(3, 50, str(tmp_path))
    records = oracle.read_jsonl(corpus.files)
    assert [oracle.tokens_of(r["text"]) for r in records] == corpus.tokens
    assert any(ch.isdigit() for r in records for ch in r["text"])


def test_planted_copies_are_near_duplicates(tmp_path):
    corpus, planted = gen.dedup_corpus(3, 200, 0.3, 0.03, str(tmp_path))
    sh = {d: oracle.shingle_set(t) for d, t in zip(corpus.doc_ids, corpus.tokens)}
    assert len(planted) == 60
    sims = [oracle.jaccard(sh[a], sh[b]) for a, b in planted]
    assert np.median(sims) > 0.7


# ------------------------------------------------------------- percentile

def test_p90_needs_ten_samples_beyond_it():
    assert oracle.percentile(list(range(100)), 0.9) == 89
    assert oracle.percentile(list(range(99)), 0.9) is None
    assert oracle.percentile([], 0.9) is None
    assert oracle.median([3.0, 1.0, 2.0, 10.0]) == 2.5


# --------------------------------------------------------------- checkers

@pytest.fixture(scope="module")
def text_truth(tmp_path_factory):
    d = tmp_path_factory.mktemp("text")
    corpus = gen.text_corpus(5, 300, str(d))
    truth = oracle.CorpusTruth(oracle.read_jsonl(corpus.files))
    return truth, oracle.BM25(truth)


def _cli_rows(bm25, query):
    return [
        {"doc_id": str(d), "score": f"{round(s, 6)}",
         "url": bm25.truth.meta[d][0], "title": bm25.truth.meta[d][1]}
        for d, s in bm25.topk(query)
    ]


def test_text_checker_accepts_reference_and_rejects_swapped_ranks(text_truth):
    _, bm25 = text_truth
    counts = sorted(bm25.truth.df.items(), key=lambda kv: -kv[1])
    query = f"{counts[3][0]} {counts[40][0]}"
    rows = _cli_rows(bm25, query)
    assert len(rows) == 10
    assert oracle.check_text(bm25, query, rows) == []
    swapped = [rows[1], rows[0], *rows[2:]]
    assert oracle.check_text(bm25, query, swapped)
    wrong_meta = [dict(rows[0], title="Other"), *rows[1:]]
    assert oracle.check_text(bm25, query, wrong_meta)
    assert oracle.check_text(bm25, query, rows[:-1])


def test_build_checker_rejects_a_wrong_df(text_truth):
    truth, _ = text_truth
    words = sorted(truth.df)
    wid = {w: i for i, w in enumerate(words)}
    vocab = pa.table({
        "word": words, "word_id": list(range(len(words))),
        "df": [truth.df[w] for w in words],
    })
    post = [(d, wid[w], c) for d, toks in truth.tokens.items()
            for w, c in sorted(Counter(toks).items())]
    postings = pa.table({
        "doc_id": [p[0] for p in post], "word_id": [p[1] for p in post],
        "tf": [p[2] for p in post],
    })
    meta = pa.table({"doc_id": truth.doc_ids})
    assert oracle.check_build(truth, vocab, postings, meta) == []
    bad = vocab.set_column(2, "df", pa.array([truth.df[w] + (w == words[0]) for w in words]))
    assert oracle.check_build(truth, bad, postings, meta)


def test_vector_checker_and_recall():
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(200, 8)).astype(np.float32)
    q = rng.normal(size=8).astype(np.float32)
    exact = oracle.exact_topk(vecs, q)
    sims = oracle.cosines(vecs, q)
    rows = [{"vec_id": str(i), "cos_sim": str(round(sims[i], 6))} for i in exact]
    assert oracle.check_vector(vecs, q, rows) == []
    assert oracle.check_vector(vecs, q, [rows[1], rows[0], *rows[2:]])
    assert oracle.check_vector(vecs, q, rows[:9])
    assert oracle.check_same_ids(rows, rows) == []
    assert oracle.check_same_ids(rows, [rows[1], rows[0], *rows[2:]])
    assert oracle.check_same_ids(rows[:9], rows)
    assert oracle.recall_at_k(exact, exact) == 1.0
    assert oracle.recall_at_k(exact[:9] + [exact[-1] + 1000], exact) == 0.9


def test_dedup_checker_rejects_a_dropped_group_member():
    pairs = [(1, 2, 0.9), (2, 5, 0.8), (7, 9, 1.0)]
    groups = [(1, 1), (2, 1), (5, 1), (7, 7), (9, 7)]
    docs = set(range(1, 11))
    assert oracle.check_dedup(docs, pairs, groups, 0.5) == []
    assert oracle.check_dedup(docs, pairs, groups[:-1], 0.5)
    assert oracle.check_dedup(docs, pairs, [(1, 1), (2, 1), (5, 2), (7, 7), (9, 7)], 0.5)
    assert oracle.check_dedup(docs, [(2, 1, 0.9)], [(1, 1), (2, 1)], 0.5)


def test_dedup_recall_denominator_counts_only_true_near_duplicates():
    sh = {
        1: frozenset("abcdefghij"), 2: frozenset("abcdefghik"),
        3: frozenset("klmnopqrst"), 4: frozenset("klmnopqrsu"),
        5: frozenset("uvw"), 6: frozenset("xyz"),
    }
    planted = [(1, 2), (3, 4), (5, 6)]  # (5, 6) is below the threshold
    groups = [(1, 1), (2, 1), (3, 3), (4, 3)]
    q = oracle.dedup_quality(sh, planted, [(1, 2, 0.8), (3, 4, 0.8)], groups, 0.5)
    assert q["true_pairs"] == 2
    assert q["recall"] == 1.0
    q = oracle.dedup_quality(sh, planted, [(1, 2, 0.8)], groups[:2], 0.5)
    assert q["recall"] == 0.5


# ------------------------------------------------------- BENCHMARK.json

def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
