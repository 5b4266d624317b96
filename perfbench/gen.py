"""Seeded inputs for the benchmark: a code corpus, CDC batches and a
``/_search`` request pool.

Kept apart from ``search_replica_spark.corpus`` on purpose, so that a change
to the engine's test corpus cannot move the benchmark's numbers.

Properties the workloads rely on:

- code-like files (``repo, path, commit, lang, content``), most of them
  opening with one of two license headers (hot, near-uniform terms);
- a Zipfian vocabulary with a long tail, so posting lengths span from 1 to
  about the corpus size and some query terms are selective;
- camelCase, PascalCase and snake_case identifiers built from that
  vocabulary (the analyzer splits them);
- a request pool whose terms are drawn by document-frequency tier from the
  generator's own statistics, never from an index.

The same seed gives the same bytes (``test_gen.py``).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

# no q/x/z: CDC markers start with "qz", so no vocabulary word equals one
_CONSONANTS = "bcdfghjklmnprstvw"
_VOWELS = "aeiou"
VOCAB_SIZE = 20_000
ABSENT_WORDS = 256  # drawn like the vocabulary, never written to a file
ZIPF_S = 1.05
# the request pool's shape and the request order are part of the workload,
# not of its inputs: every seed fills the same shape with its own words
SHAPE_SEED = 20_251_016

LICENSES = (
    "Copyright the project authors. Licensed under the terms of the "
    "permissive license; you may use, copy, modify and distribute this file "
    "provided that this notice is retained in all copies. The software is "
    "provided as is, without warranty of any kind, express or implied.",
    "SPDX-License-Identifier: reciprocal. This file is part of the project "
    "and is distributed in the hope that it will be useful, but without any "
    "warranty; see the license file in the root of the source tree.",
)
LICENSE_SHARE = 0.8

# (extension, comment prefix, line templates); {i} identifier in the
# language's own style, {t} type name (PascalCase), {w} plain word
LANGS = (
    ("py", "#", ("def {i}({w}, {w}):", "    {w} = {i}({w}, {w})",
                 "    return {w}.{i}()", "class {t}({t}):", "import {w}")),
    ("go", "//", ("func {t}({w} {t}) error {{", "\t{w} := {i}({w})",
                  "\treturn {w}.{t}()", "type {t} struct {{", "}}")),
    ("java", "//", ("public {t} {i}({t} {w}) {{", "    {t} {w} = new {t}();",
                    "    return {w}.{i}();", "}}")),
    ("js", "//", ("function {i}({w}) {{", "  const {w} = await {i}({w});",
                  "  return {w};", "export {{ {i} }};")),
    ("rs", "//", ("fn {i}({w}: &{t}) -> {t} {{", "    let {w} = {i}(&{w});",
                  "    {w}.{i}()", "}}")),
    ("c", "/*", ("int {i}(struct {w} *{w}) {{", "    {w} = {i}({w}, {w});",
                 "    return {w};", "}}")),
)
LANG_WEIGHTS = np.array([0.3, 0.15, 0.15, 0.2, 0.1, 0.1])


def vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """``size`` distinct pseudo-words of 2-3 consonant-vowel syllables."""
    syl = np.array([c + v for c in _CONSONANTS for v in _VOWELS], dtype=object)
    n = size * 2
    parts = syl[rng.integers(0, syl.size, (n, 3))]
    three = rng.random(n) < 0.7
    words = parts[:, 0] + parts[:, 1] + np.where(three, parts[:, 2], "")
    words = pd.unique(words)
    if words.size < size:
        raise ValueError("vocabulary draw too small")
    return words[:size]


def zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return np.cumsum(w) / w.sum()


@dataclass
class Corpus:
    docs: pd.DataFrame  # repo, path, commit, lang, content
    words: np.ndarray  # vocabulary, Zipf rank order
    df: np.ndarray  # per-word document frequency over ``docs``
    absent: np.ndarray  # words of the same shape that no file contains


class DocWriter:
    """Writes code-like files from one seeded stream of Zipfian words."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        words = vocabulary(self.rng, VOCAB_SIZE + ABSENT_WORDS)
        self.words, self.absent = words[:VOCAB_SIZE], words[VOCAB_SIZE:]
        self._cdf = zipf_cdf(self.words.size, ZIPF_S)

    def _draw(self, n: int) -> np.ndarray:
        return np.searchsorted(self._cdf, self.rng.random(n), side="right")

    def content(self, extra_token: str | None = None) -> tuple[str, str, np.ndarray]:
        """One file: (lang, text, word ids used)."""
        rng = self.rng
        lang = int(np.searchsorted(np.cumsum(LANG_WEIGHTS), rng.random(), side="right"))
        ext, comment, templates = LANGS[min(lang, len(LANGS) - 1)]
        n_lines = max(3, int(rng.lognormal(np.log(36), 0.6)))
        ids = self._draw(n_lines * 8)
        words = self.words[ids]
        style = rng.integers(0, 3, n_lines * 3)
        pos = 0
        used = 0
        lines = []
        if rng.random() < LICENSE_SHARE:
            lines.append(f"{comment} {LICENSES[int(rng.random() < 0.3)]}")
        kinds = rng.integers(0, len(templates) + 1, n_lines)
        for li in range(n_lines):
            if kinds[li] == len(templates):
                k = 3 + li % 4
                lines.append(f"{comment} " + " ".join(words[pos:pos + k]))
                pos += k
                continue
            tpl = templates[kinds[li]]
            vals = {}
            for slot in ("i", "t"):
                if "{" + slot + "}" in tpl:
                    a, b = words[pos], words[pos + 1]
                    pos += 2
                    st = style[used]
                    used += 1
                    if slot == "t":
                        vals[slot] = a.capitalize() + b.capitalize()
                    elif st == 0:
                        vals[slot] = a + b.capitalize()
                    elif st == 1:
                        vals[slot] = f"{a}_{b}"
                    else:
                        vals[slot] = a
            n_w = tpl.count("{w}")
            if n_w:
                fill = iter(words[pos:pos + n_w])
                pos += n_w
                tpl = tpl.replace("{w}", "{}").format(*fill, **vals)
            else:
                tpl = tpl.format(**vals)
            lines.append(tpl)
        if extra_token is not None:
            lines.append(f"{comment} {extra_token}")
        return LANGS[min(lang, len(LANGS) - 1)][0], "\n".join(lines) + "\n", ids[:pos]


def _commit(seed: int, key: str) -> str:
    return hashlib.sha1(f"{seed}:{key}".encode()).hexdigest()


def generate_corpus(seed: int, n_files: int) -> tuple[Corpus, DocWriter]:
    """``n_files`` files over Zipf-sized repositories; returns the corpus and
    the writer, whose stream continues for the CDC batches."""
    w = DocWriter(seed)
    rng = w.rng
    n_repos = max(1, n_files // 40)
    repo_cdf = zipf_cdf(n_repos, 1.0)
    repos = np.searchsorted(repo_cdf, rng.random(n_files), side="right")
    rows = []
    df = np.zeros(w.words.size, dtype=np.int64)
    for i in range(n_files):
        lang, text, ids = w.content()
        df[np.unique(ids)] += 1
        repo = f"org{repos[i] % 97}/repo{repos[i]}"
        d, f = w.words[w._draw(2)]
        path = f"src/{d}/{f}_{i}.{lang}"
        rows.append((repo, path, _commit(seed, path), lang, text))
    docs = pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])
    return Corpus(docs, w.words, df, w.absent), w


def marker(seed: int, n: int) -> str:
    """The ``n``-th unique CDC marker token: "qz" + base-26 letters (one
    analyzer token; never a vocabulary word)."""
    out = ""
    v = n + 26 ** 5 * (seed % 26 + 1)
    while v:
        v, r = divmod(v, 26)
        out = chr(97 + r) + out
    return "qz" + out


@dataclass
class Batch:
    upserts: pd.DataFrame  # repo, path, commit, lang, content (+ marker)
    deletes: pd.DataFrame  # repo, path of docs deleted in this batch


def cdc_batches(
    seed: int, corpus: Corpus, writer: DocWriter, n_batches: int,
    upsert_share: float = 0.02, delete_share: float = 0.005,
):
    """Micro-batches over ``corpus``: each upsert (an update of a live doc
    or a new doc) carries a unique marker token; deletes remove docs marked
    by an earlier batch. Yields ``Batch`` objects lazily."""
    rng = np.random.default_rng([seed, 1])
    live = [(r, p) for r, p in zip(corpus.docs["repo"], corpus.docs["path"])]
    n0 = len(live)
    marked: list[tuple[str, str]] = []
    n_up = max(1, int(n0 * upsert_share))
    n_del = max(1, int(n0 * delete_share))
    serial = 0
    for b in range(n_batches):
        dels = []
        if marked:
            pick = rng.choice(len(marked), size=min(n_del, len(marked)), replace=False)
            for j in sorted(pick.tolist(), reverse=True):
                dels.append(marked.pop(j))
            gone = set(dels)
            live = [k for k in live if k not in gone]
        n_new = n_up // 4
        upd = rng.choice(len(live), size=n_up - n_new, replace=False)
        keys = [live[j] for j in upd.tolist()]
        for j in range(n_new):
            keys.append((f"org{b % 97}/cdc", f"new/b{b}_{j}.py"))
        rows = []
        for repo, path in keys:
            m = marker(seed, serial)
            serial += 1
            lang, text, _ids = writer.content(extra_token=m)
            rows.append((repo, path, _commit(seed, f"{path}@{b}"), lang, text, m))
        live.extend(keys[len(keys) - n_new:])
        done = set(keys)
        marked = [k for k in marked if k not in done] + keys
        yield Batch(
            pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content", "marker"]),
            pd.DataFrame(dels, columns=["repo", "path"]),
        )


def request_pool(corpus: Corpus, seed: int, size: int = 256) -> list[dict]:
    """Fixed ``/_search`` bodies: 1-4 terms drawn by df tier (hot >= 10% of
    docs, mid, rare <= 0.1% of docs, absent), some joined into camelCase
    identifiers, ``operator`` or/and, ``size`` 10 or 100.

    The pool's shape (terms per body, each term's tier and df rank within
    the tier, identifier joins, operator, size) is the same for every seed.
    ``seed`` moves each term to a word a few df ranks away (at most 2% of
    its tier), and the corpus decides which words those are. So a body's
    cost moves little between seeds while its text changes."""
    shape = np.random.default_rng(SHAPE_SEED)
    jitter = np.random.default_rng([seed, 2])
    n = len(corpus.docs)
    order = np.argsort(-corpus.df, kind="stable")  # df descending
    df, words = corpus.df[order], corpus.words[order]
    tiers = (
        (0.3, words[df >= 0.1 * n]),  # hot
        (0.35, words[(df > max(1, 0.001 * n)) & (df < 0.1 * n)]),  # mid
        (0.25, words[(df >= 1) & (df <= max(1, 0.001 * n))]),  # rare
        (0.1, corpus.absent),
    )
    p = np.array([w for w, _ in tiers])
    pool = []
    for _ in range(size):
        k = int(shape.choice([1, 2, 3, 4], p=[0.25, 0.35, 0.25, 0.15]))
        terms = []
        for _ in range(k):
            tier = tiers[int(shape.choice(len(tiers), p=p))][1]
            span = max(1, tier.size // 50)
            pos = int(shape.random() * tier.size) + int(jitter.integers(-span, span + 1))
            terms.append(str(tier[min(max(pos, 0), tier.size - 1)]))
        if k >= 2 and shape.random() < 0.3:
            terms[:2] = [terms[0] + terms[1].capitalize()]  # one camelCase identifier
        op = "and" if shape.random() < 0.3 else "or"
        pool.append({
            "query": {"match": {"content": {"query": " ".join(terms), "operator": op}}},
            "size": 100 if shape.random() < 0.2 else 10,
        })
    return pool


def request_stream(pool_size: int, n: int) -> np.ndarray:
    """Pool indices for ``n`` requests, Zipfian (exponent 1) over the pool
    order; fixed like the pool's shape."""
    rng = np.random.default_rng([SHAPE_SEED, 1])
    return np.searchsorted(zipf_cdf(pool_size, 1.0), rng.random(n), side="right")
