"""Deterministic synthetic source-code corpus (the engine's test input).

Fills the role of the reference's Faker-based CSV generator
(reference: demo/gen_csv.py:21-62) but fully seeded — no unseeded
randomness, per FIXTURES.md. Schema is exactly BASELINE.json#input_hint:
``repo:string, path:string, commit:string, lang:string, content:string``.

Properties engineered for the engine's hard parts (SURVEY.md §7):
  - Zipfian repo sizes (a few repos own most files)        → skew salting
  - shared license boilerplate on ~80% of files            → hot Zipfian terms
  - camelCase + snake_case identifiers from a seeded vocab → identifier split
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

SEED = 42

LANGS = ["python", "go", "java", "js", "c", "md"]
LANG_WEIGHTS = [0.30, 0.15, 0.15, 0.20, 0.10, 0.10]
LANG_EXT = {"python": "py", "go": "go", "java": "java", "js": "js", "c": "c", "md": "md"}

LICENSE_HEADER = (
    "Licensed under the Apache License Version 2.0 the License you may not use "
    "this file except in compliance with the License you may obtain a copy of "
    "the License at http www apache org licenses LICENSE 2.0 unless required by "
    "applicable law or agreed to in writing software distributed under the "
    "License is distributed on an AS IS BASIS WITHOUT WARRANTIES OR CONDITIONS "
    "OF ANY KIND either express or implied"
)

_SYLLABLES = [
    "ag", "al", "an", "ar", "at", "bar", "bat", "bit", "bo", "buf", "cal", "cap",
    "cat", "chan", "col", "con", "cor", "cur", "dat", "dec", "del", "dex", "dig",
    "doc", "dom", "dup", "el", "em", "en", "er", "ex", "fac", "fer", "fil", "fin",
    "fix", "flo", "for", "fra", "gen", "gra", "han", "hash", "hex", "id", "il",
    "in", "it", "jo", "key", "lan", "lex", "lim", "lin", "lis", "loc", "log",
    "lum", "map", "mar", "mat", "mem", "mer", "met", "min", "mod", "mon", "nav",
    "net", "nod", "nor", "num", "ob", "op", "or", "pack", "par", "pat", "per",
    "pin", "pos", "pre", "pro", "qua", "quer", "ran", "rec", "reg", "rel", "rem",
    "rep", "res", "ret", "rot", "row", "run", "sav", "scan", "seg", "sel", "ser",
    "set", "sha", "sig", "sim", "sor", "spa", "sta", "str", "sub", "sum", "tab",
    "tag", "tem", "ter", "tok", "tra", "tri", "tup", "typ", "un", "up", "val",
    "var", "vec", "ver", "vis", "wal", "win", "wor", "zer",
]

_KEYWORDS = {
    "python": ["def", "return", "class", "import", "for", "in", "if", "else", "self"],
    "go": ["func", "return", "type", "struct", "package", "import", "for", "range", "err"],
    "java": ["public", "void", "class", "return", "import", "static", "final", "new", "this"],
    "js": ["function", "return", "const", "let", "export", "import", "async", "await", "this"],
    "c": ["int", "void", "return", "struct", "static", "include", "for", "while", "char"],
    "md": ["the", "a", "to", "usage", "example", "install", "run", "see", "note"],
}


def _build_words(rng: np.random.Generator, n_words: int = 900) -> list[str]:
    """Seeded vocabulary: 2-syllable pseudo-words, unique, deterministic order."""
    syl = np.array(_SYLLABLES)
    a = rng.integers(0, len(syl), size=n_words * 3)
    b = rng.integers(0, len(syl), size=n_words * 3)
    words = pd.unique(pd.Series(syl[a]) + pd.Series(syl[b]))
    return list(words[:n_words])


def _build_identifiers(rng: np.random.Generator, words: list[str], n: int = 4000) -> np.ndarray:
    """snake_case / camelCase / PascalCase identifiers from the vocab."""
    w = np.array(words, dtype=object)
    p1 = w[rng.integers(0, len(w), n)]
    p2 = w[rng.integers(0, len(w), n)]
    p3 = w[rng.integers(0, len(w), n)]
    style = rng.integers(0, 4, n)
    cap2 = pd.Series(p2).str.capitalize().to_numpy()
    cap3 = pd.Series(p3).str.capitalize().to_numpy()
    cap1 = pd.Series(p1).str.capitalize().to_numpy()
    snake2 = p1 + "_" + p2
    snake3 = p1 + "_" + p2 + "_" + p3
    camel = p1 + cap2
    pascal = cap1 + cap2 + cap3
    out = np.where(style == 0, snake2, np.where(style == 1, snake3, np.where(style == 2, camel, pascal)))
    return out


def generate_corpus(n_files: int, seed: int = SEED) -> pd.DataFrame:
    """Deterministic corpus of ``n_files`` rows (repo, path, commit, lang, content)."""
    rng = np.random.default_rng(seed)
    words = _build_words(rng)
    idents = _build_identifiers(rng, words)

    # --- repo assignment: Zipfian over n_repos (FIXTURES.md §1) ---
    n_repos = max(4, n_files // 40)
    zipf_w = 1.0 / np.arange(1, n_repos + 1, dtype=np.float64)
    zipf_w /= zipf_w.sum()
    repo_idx = rng.choice(n_repos, size=n_files, p=zipf_w)
    repo_names = np.array(
        [f"org{i // 50:03d}/repo{i % 50:03d}" for i in range(n_repos)], dtype=object
    )
    repo = repo_names[repo_idx]

    lang = rng.choice(LANGS, size=n_files, p=LANG_WEIGHTS).astype(object)
    ext = pd.Series(lang).map(LANG_EXT).to_numpy()
    dirs = np.array(["src", "lib", "pkg", "internal", "cmd", "docs", "test"], dtype=object)
    dname = dirs[rng.integers(0, len(dirs), n_files)]
    fstem = idents[rng.integers(0, len(idents), n_files)]
    path = (
        dname + "/" + pd.Series(fstem).str.lower().to_numpy()
        + "_" + np.arange(n_files).astype(str).astype(object) + "." + ext
    )

    # one commit per repo, 40-hex, deterministic from (repo, seed)
    uniq_repos = pd.unique(pd.Series(repo))
    commit_map = {
        r: hashlib.sha1(f"{seed}:{r}".encode()).hexdigest() for r in uniq_repos
    }
    commit = pd.Series(repo).map(commit_map).to_numpy()

    # --- content: templated pseudo-code lines ---
    n_lines = rng.integers(5, 60, size=n_files)
    file_of_line = np.repeat(np.arange(n_files), n_lines)
    total_lines = int(n_lines.sum())

    lang_of_line = lang[file_of_line]
    kw_tbl = {lg: np.array(kws) for lg, kws in _KEYWORDS.items()}
    kw1 = np.empty(total_lines, dtype=object)
    kw2 = np.empty(total_lines, dtype=object)
    for lg, kws in kw_tbl.items():
        m = lang_of_line == lg
        cnt = int(m.sum())
        if cnt:
            kw1[m] = kws[rng.integers(0, len(kws), cnt)]
            kw2[m] = kws[rng.integers(0, len(kws), cnt)]
    id1 = idents[rng.integers(0, len(idents), total_lines)]
    id2 = idents[rng.integers(0, len(idents), total_lines)]
    id3 = idents[rng.integers(0, len(idents), total_lines)]

    shape = rng.integers(0, 4, total_lines)
    line = np.empty(total_lines, dtype=object)
    m = shape == 0
    line[m] = kw1[m] + " " + id1[m] + "(" + id2[m] + ", " + id3[m] + "):"
    m = shape == 1
    line[m] = "    " + kw2[m] + " " + id1[m] + " = " + id2[m] + "." + id3[m]
    m = shape == 2
    line[m] = "    " + kw1[m] + " " + id1[m] + " " + kw2[m] + " " + id2[m]
    m = shape == 3
    line[m] = "# " + id1[m] + " " + kw2[m] + " " + id2[m] + " " + id3[m]
    body = pd.Series(line, dtype=object).groupby(file_of_line).agg("\n".join)
    body = body.reindex(np.arange(n_files), fill_value="").to_numpy()

    has_license = rng.random(n_files) < 0.80
    content = np.where(has_license, "/* " + LICENSE_HEADER + " */\n" + body, body)

    return pd.DataFrame(
        {
            "repo": repo,
            "path": path,
            "commit": commit,
            "lang": lang,
            "content": content,
        }
    )


# file counts per scale factor (FIXTURES.md §1)
SF_FILES = {
    "0.001": 2_000,
    "0.01": 20_000,
    "0.1": 200_000,
    "0.2": 400_000,
    # 2M docs (~9 GB text): the largest measured scale point
    # (BENCH_SF1.json)
    "1.0": 2_000_000,
}


def corpus_parquet(sf: str, cache_dir: str = "/tmp/spark_graft_corpus") -> str:
    """Generate (once) and cache the sf-scale corpus as parquet; return path."""
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, f"code_files_sf{sf}.parquet")
    if not os.path.exists(path):
        df = generate_corpus(SF_FILES[sf])
        tmp = path + ".tmp"
        # small row groups keep the single file splittable into parallel
        # Spark scan tasks (one row group = one unsplittable unit)
        df.to_parquet(tmp, index=False, row_group_size=4096)
        os.replace(tmp, path)
    return path


def reference_queries(seed: int = SEED) -> pd.DataFrame:
    """Fixed reference query set (FIXTURES.md §2): 50 queries, mixed shapes."""
    rng = np.random.default_rng(seed + 1)
    words = _build_words(np.random.default_rng(seed))
    idents = _build_identifiers(np.random.default_rng(seed), words)
    w = np.array(words)
    rows = []
    qid = 0
    # 15 single common terms (keywords + license words — high df)
    common = ["def", "return", "license", "the", "import", "func", "public",
              "const", "static", "apache", "software", "struct", "class",
              "void", "include"]
    for t in common:
        rows.append((qid, t, 10))
        qid += 1
    # 10 single rare terms (vocab words)
    for t in w[rng.integers(0, len(w), 10)]:
        rows.append((qid, str(t), 10))
        qid += 1
    # 15 multi-term (2-3 terms)
    for _ in range(15):
        k = int(rng.integers(2, 4))
        terms = " ".join(str(x) for x in w[rng.integers(0, len(w), k)])
        rows.append((qid, terms, 10))
        qid += 1
    # 5 identifier fragments (camelCase queries — exercise the analyzer)
    for t in idents[rng.integers(0, len(idents), 5)]:
        rows.append((qid, str(t), 10))
        qid += 1
    # 3 absent terms, 2 top-k edges
    for t in ["zzzzqqq", "notindexedterm", "qqqzzz9"]:
        rows.append((qid, t, 10))
        qid += 1
    rows.append((qid, "license apache", 1)); qid += 1
    rows.append((qid, "return value", 100)); qid += 1
    return pd.DataFrame(rows, columns=["query_id", "query_text", "k"]).astype(
        {"query_id": "int64", "k": "int32"}
    )
