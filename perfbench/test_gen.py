"""The generator is a pure function of its seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digest(seed: int, n_files: int = 300) -> str:
    corpus, writer = gen.generate_corpus(seed, n_files)
    h = hashlib.sha256(corpus.docs.to_json(orient="split").encode())
    h.update(corpus.df.tobytes())
    for b in gen.cdc_batches(seed, corpus, writer, 3):
        h.update(b.upserts.to_json(orient="split").encode())
        h.update(b.deletes.to_json(orient="split").encode())
    h.update(json.dumps(gen.request_pool(corpus, seed, 64)).encode())
    return h.hexdigest()


def test_same_seed_same_bytes():
    assert _digest(7) == _digest(7)


def test_other_seed_other_bytes():
    assert _digest(7) != _digest(8)


def test_pool_seed_picks_other_words_of_one_corpus():
    corpus, _ = gen.generate_corpus(5, 2000)
    a, b = gen.request_pool(corpus, 1), gen.request_pool(corpus, 2)
    assert a == gen.request_pool(corpus, 1) and a != b
    # the shape stays: operator and size of every body
    assert [(x["size"], x["query"]["match"]["content"]["operator"]) for x in a] == [
        (x["size"], x["query"]["match"]["content"]["operator"]) for x in b]


def test_markers_are_single_tokens_outside_the_vocabulary():
    from search_replica_spark.analysis import tokenize_text

    corpus, _ = gen.generate_corpus(3, 50)
    words = set(corpus.words.tolist())
    for n in (0, 1, 25, 26, 10_000):
        m = gen.marker(3, n)
        assert tokenize_text(m) == [m] and m not in words


def test_pool_spans_every_df_tier():
    corpus, _ = gen.generate_corpus(5, 2000)
    n = len(corpus.docs)
    df = dict(zip(corpus.words.tolist(), corpus.df.tolist()))
    terms = {
        t
        for body in gen.request_pool(corpus, 5)
        for t in body["query"]["match"]["content"]["query"].split()
    }
    dfs = [df[t] for t in terms if t in df]
    assert max(dfs) >= 0.1 * n  # hot
    assert any(t in set(corpus.absent.tolist()) for t in terms)  # absent
    assert any(1 <= d <= max(1, 0.001 * n) for d in dfs)  # rare
    assert any(t != t.lower() for t in terms)  # camelCase identifiers
