"""Seeded synthetic source files in the shape of ``corpus.synth_corpus``:
``(repo, path, commit, lang, content)`` with Zipf-distributed identifiers
and per-language hot keywords.  Generated on the driver with numpy, so the
same seed gives byte-identical rows.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

LANGS = ["python", "java", "scala", "go", "javascript"]
EXT = {"python": "py", "java": "java", "scala": "scala", "go": "go", "javascript": "js"}
STEMS = [
    "parse", "buffer", "stream", "index", "query", "shard", "merge", "token",
    "score", "fetch", "cache", "retry", "client", "server", "http", "json",
    "codec", "block", "batch", "write", "read", "split", "hash", "salt",
    "count", "limit", "offset", "field", "value", "table", "row", "column",
]
HOT = {
    "python": ["import", "return", "def", "class", "self", "for", "if", "in"],
    "java": ["import", "return", "public", "void", "class", "static", "new", "final"],
    "scala": ["import", "return", "def", "class", "val", "var", "new", "object"],
    "go": ["import", "return", "func", "type", "struct", "var", "range", "nil"],
    "javascript": ["import", "return", "function", "const", "let", "var", "new", "async"],
}
VOCAB = 5000
ZIPF_A = 1.35


def _idents(rng: np.random.Generator, n: int) -> list[str]:
    vs = np.minimum(rng.zipf(ZIPF_A, size=n) - 1, VOCAB - 1)
    return [STEMS[v % len(STEMS)] if v < len(STEMS) else f"{STEMS[v % len(STEMS)]}{v}"
            for v in vs.tolist()]


def _file(rng: np.random.Generator, i: int, tag: str, max_funcs: int) -> tuple:
    lang = LANGS[int(rng.integers(0, len(LANGS)))]
    a, b, c, d = _idents(rng, 4)
    repo = f"org{int(rng.integers(0, 7))}/proj{int(rng.integers(0, 23))}"
    path = f"src/{c}/{a}_{b}.{tag}{i}.{EXT[lang]}"
    commit = hashlib.sha256(f"{tag}-{i}".encode()).hexdigest()[:12]
    hot = HOT[lang]
    lines = [f"{hot[0]} {c}.{d}"]
    for _ in range(int(rng.integers(2, max_funcs + 1))):
        s = [STEMS[j] for j in rng.integers(0, len(STEMS), size=5).tolist()]
        camel = s[0] + s[1].capitalize() + s[2].capitalize()
        kw = hot[int(rng.integers(0, len(hot)))]
        lines.append(f"{hot[2]} {camel}({s[3]}_{s[4]}, {s[1]}_count):")
        for k in range(int(rng.integers(2, 24))):
            t = _idents(rng, 3)
            lines.append(
                f"    {t[0]}_{t[1]} = {t[2]}{k % 10}.{s[k % 5]}() "
                f"{kw} {hot[int(rng.integers(0, len(hot)))]}"
            )
        lines.append(f"    {hot[1]} {camel}Result")
    return (repo, path, commit, lang, "\n".join(lines))


def code_files(seed: int, n: int, tag: str = "f", max_funcs: int = 6) -> pd.DataFrame:
    """``n`` seeded files; ``tag`` keeps key tuples of separate batches
    (e.g. the index workload's appended batches) disjoint."""
    rng = np.random.default_rng([seed, sum(map(ord, tag))])
    rows = [_file(rng, i, tag, max_funcs) for i in range(n)]
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def edit_lines(rng: np.random.Generator, content: str, n_edits: int) -> str:
    """A near copy: ``n_edits`` randomly chosen lines get a new identifier."""
    lines = content.split("\n")
    for j in rng.choice(len(lines), size=min(n_edits, len(lines)), replace=False):
        lines[int(j)] += f" edited{int(rng.integers(0, 10**6))}"
    return "\n".join(lines)


def with_near_copies(
    seed: int, n: int, copy_fraction: float, n_edits: int = 2
) -> tuple[pd.DataFrame, set[tuple[int, int]]]:
    """``n`` docs ``(doc_id, text)`` in which ``copy_fraction`` of them are
    near copies (``n_edits`` lines edited) of distinct originals, plus the
    injected ``(original, copy)`` id pairs as ground truth.  Originals are
    larger files so that a few edited lines keep Jaccard well above 0.5."""
    n_copies = int(n * copy_fraction)
    n_orig = n - n_copies
    base = code_files(seed, n_orig, tag="d", max_funcs=8)["content"].tolist()
    rng = np.random.default_rng([seed, 7])
    texts = list(base)
    pairs: set[tuple[int, int]] = set()
    # one copy per chosen original: every injected cluster is a single pair,
    # so the cluster stage does the same number of rounds for every seed
    for c, src in enumerate(rng.choice(n_orig, size=n_copies, replace=False)):
        texts.append(edit_lines(rng, base[int(src)], n_edits))
        pairs.add((int(src), n_orig + c))
    order = rng.permutation(n)  # copies are not all at the end
    new_id = np.empty(n, dtype=np.int64)
    new_id[order] = np.arange(n)
    docs = pd.DataFrame(
        {"doc_id": new_id, "text": texts}
    ).sort_values("doc_id", ignore_index=True)
    truth = {
        tuple(sorted((int(new_id[a]), int(new_id[b])))) for a, b in pairs
    }
    return docs, truth
