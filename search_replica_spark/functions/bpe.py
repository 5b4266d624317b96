"""Byte-pair-encoding subword tokenizer: distributed training + apply.

A training-data pipeline at 100 TB tokenizes with a LEARNED subword
vocabulary, not whitespace. The classic BPE trainer (Sennrich 2016; the
algorithm behind GPT-2/HuggingFace tokenizers) has exactly one
corpus-sized step — counting words — and that is the only step that needs
Spark: a Zipfian corpus compacts to a (word, count) table orders of
magnitude smaller than the text (the same reduction `tokenizers` and
`sentencepiece` perform before their in-memory merge loops). So:

  - ``bpe_train``:  ONE distributed tokenize + groupBy(word).count()
                    (partial-aggregated, one shuffle), then the standard
                    greedy pair-merge loop over the collected counts
                    driver-side. Deterministic: ties on pair frequency
                    break lexicographically.
  - ``bpe_apply``:  distributed encoding — merge ranks broadcast to the
                    executors, words segmented per Arrow batch with a
                    per-batch word cache (Zipf again: a batch's distinct
                    words ≪ its tokens), via mapInPandas.

The engine's whitespace+code analyzer (`analysis.tokenizer`) stays the
search tokenizer; BPE is the LLM-pipeline surface (token budgeting).
It is tested against an independent naive reference implementation
(tests/test_bpe.py) rather than a SQL oracle — BPE's iterative merge loop
is not SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EOW = "</w>"  # end-of-word marker (classic BPE: lets merges learn suffixes)


def _word_counts(df: DataFrame, col: str) -> list[tuple[str, int]]:
    """The one corpus-sized pass: whitespace words → (word, count),
    partial-aggregated map-side, one shuffle on the word key."""
    rows = (
        df.select(F.explode(F.split(F.col(col), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .count()
        .collect()
    )
    # deterministic driver state regardless of shuffle arrival order
    return sorted((r["w"], int(r["count"])) for r in rows)


def bpe_train(
    df: DataFrame, n_merges: int, col: str = "content"
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from a corpus column.

    Returns the ordered merge list [(left, right), ...] — rank = position.
    Deterministic: max pair frequency, ties broken by (left, right)
    lexicographic order. Stops early when no pair occurs twice."""
    counts = _word_counts(df, col)
    # each distinct word as a symbol tuple; training mutates these in place
    words: list[tuple[list[str], int]] = [
        (list(w) + [EOW], c) for w, c in counts
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_freq: dict[tuple[str, str], int] = {}
        for syms, c in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_freq[p] = pair_freq.get(p, 0) + c
        if not pair_freq:
            break
        best = min(pair_freq.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_freq[best] < 2:
            break  # nothing repeats — further merges are noise
        merges.append(best)
        joined = best[0] + best[1]
        for syms, _c in words:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == best[0] and syms[i + 1] == best[1]:
                    syms[i : i + 2] = [joined]
                else:
                    i += 1
    return merges


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Segment ONE word with trained merges: repeatedly apply the
    lowest-rank applicable merge (the canonical GPT-2/tokenizers
    algorithm — identical output to replaying training merges in order)."""
    syms = list(word) + [EOW]
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_apply(
    df: DataFrame, merges: list[tuple[str, str]], col: str = "content",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distributed BPE encoding: (id_col, n_words, n_bpe_tokens, tokens)
    per row. Merge ranks ride to executors inside the serialized closure
    (a few KB — the broadcast-variable shape without the ceremony); each
    Arrow batch segments its DISTINCT words once (per-batch cache) and
    maps tokens back through pandas — no per-token Python in the common
    (repeated-word) path."""
    import pandas as pd

    ranks = {pair: i for i, pair in enumerate(merges)}
    out_schema = (
        f"{id_col} long, n_words long, n_bpe_tokens long, "
        "tokens array<string>"
    )

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids, n_words, n_toks, toks = [], [], [], []
            cache: dict[str, list[str]] = {}
            for rid, text in zip(pdf[id_col], pdf[col]):
                ws = [w for w in str(text).split() if w]
                row_toks: list[str] = []
                for w in ws:
                    seg = cache.get(w)
                    if seg is None:
                        seg = encode_word(w, ranks)
                        cache[w] = seg
                    row_toks.extend(seg)
                ids.append(int(rid))
                n_words.append(len(ws))
                n_toks.append(len(row_toks))
                toks.append(row_toks)
            yield pd.DataFrame(
                {id_col: ids, "n_words": n_words, "n_bpe_tokens": n_toks,
                 "tokens": toks}
            )

    return df.select(id_col, col).mapInPandas(fn, schema=out_schema)
