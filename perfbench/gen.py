"""Seeded workload generator: the only source of benchmark inputs.

Everything the program under test receives comes from here, as plain
files (parquet, NDJSON) or plain strings (queries). The same seed gives
byte-identical inputs. Each input family draws from its own numpy
stream, ``default_rng([seed, stream])``, so the pasted-line stream can
never replay corpus lines:

  stream 0  corpus documents (and the identifier pool they use)
  stream 1  short keyword queries
  stream 2  pasted code lines (same grammar as stream 0, disjoint draws)
  stream 3  the NDJSON ingest batch

Documents have the ``input_hint`` shape (repo, path, commit, lang,
content): 8-49 lines of code-like text, ~2 KB each, identifiers drawn
Zipf-wise from a camelCase/snake_case pool so a few terms are hot.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

CORPUS_STREAM, QUERY_STREAM, PASTE_STREAM, BATCH_STREAM = 0, 1, 2, 3

KEYWORDS = ["def", "func", "return", "if", "for", "class", "import", "while", "else", "var"]
HEADS = ["get", "set", "parse", "build", "read", "write", "merge", "scan",
         "flush", "index", "search", "score", "token", "batch", "retry"]
TAILS = ["user", "name", "doc", "term", "list", "node", "block", "shard",
         "count", "value", "buffer", "client", "server", "config", "result"]
EXTS = [("py", "python"), ("go", "go"), ("java", "java"), ("rs", "rust"), ("js", "javascript")]
MODULES = ["core", "util", "net", "index", "query", "store", "auth", "api"]
POOL_SIZE = 2000
# the terms short queries draw from: identifier pieces, keywords (less
# "for", an analyzer stopword) and numbers
QUERY_VOCAB = sorted(set(HEADS + TAILS + KEYWORDS + [str(i) for i in range(0, 100, 5)]) - {"for"})
ZIPF_A = 1.3


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def ident_pool(seed: int) -> list[str]:
    rng = _rng(seed, CORPUS_STREAM)
    h = rng.integers(len(HEADS), size=POOL_SIZE)
    t = rng.integers(len(TAILS), size=POOL_SIZE)
    n = rng.integers(100, size=POOL_SIZE)
    return [
        f"{HEADS[a]}{TAILS[b].capitalize()}{c}" if i % 2 == 0 else f"{HEADS[a]}_{TAILS[b]}_{c}"
        for i, (a, b, c) in enumerate(zip(h, t, n))
    ]


def _code_lines(rng: np.random.Generator, pool: list[str], n_lines: int) -> list[str]:
    kws = rng.integers(len(KEYWORDS), size=n_lines)
    ids = rng.zipf(ZIPF_A, size=(n_lines, 4)) % len(pool)
    lits = rng.integers(10_000, size=n_lines)
    return [
        f"{KEYWORDS[k]} {pool[a]}({pool[b]}, {pool[c]}) {{ {pool[d]} = {lit}; }}"
        for k, (a, b, c, d), lit in zip(kws, ids, lits)
    ]


def _doc(i: int, seed: int, content: str) -> dict:
    ext, lang = EXTS[i % len(EXTS)]
    repo = f"org{i % 7}/repo{i % 23}"
    path = f"src/{MODULES[(i // 5) % len(MODULES)]}/file_{i}.{ext}"
    commit = hashlib.sha1(f"{repo}/{path}@{seed}".encode()).hexdigest()[:12]
    return {"repo": repo, "path": path, "commit": commit, "lang": lang, "content": content}


def corpus(seed: int, n_docs: int) -> list[dict]:
    """``n_docs`` input_hint-shaped documents, doc i fixed by (seed, i)."""
    pool = ident_pool(seed)
    rng = _rng(seed, CORPUS_STREAM)
    rng.integers(1, size=3 * POOL_SIZE)  # skip the draws ident_pool made
    n_lines = 8 + rng.integers(42, size=n_docs)
    return [_doc(i, seed, "\n".join(_code_lines(rng, pool, int(n))))
            for i, n in enumerate(n_lines)]


def write_parquet(docs: list[dict], out_dir: str, n_files: int = 8) -> int:
    """Write ``docs`` as ``n_files`` parquet files (one scan task each);
    returns the content bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(docs) // n_files)
    for f in range(n_files):
        part = docs[f * step:(f + 1) * step]
        cols = {k: [d[k] for d in part] for k in ("repo", "path", "commit", "lang", "content")}
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"part-{f:05d}.parquet"))
    return sum(len(d["content"].encode()) for d in docs)


def short_queries(seed: int, n: int) -> list[str]:
    """1-3 term keyword queries, terms drawn Zipf-wise over the analyzed
    vocabulary (identifier pieces, keywords, small numbers), so repeats
    are common and the reader's df cache sees a realistic hit rate."""
    rng = _rng(seed, QUERY_STREAM)
    vocab = [QUERY_VOCAB[i] for i in rng.permutation(len(QUERY_VOCAB))]
    lens = 1 + rng.integers(3, size=n)
    out = []
    for ln in lens:
        ranks = (rng.zipf(ZIPF_A, size=int(ln)) - 1) % len(vocab)
        out.append(" ".join(vocab[r] for r in ranks))
    return out


def pasted_lines(seed: int, n: int, lines_per_query: int = 2) -> list[str]:
    """Code snippets pasted as queries: corpus-grammar lines from the
    PASTE stream (never the corpus stream); two lines analyze to ~16-22
    distinct terms, enough to push the hot ones into large groups."""
    pool = ident_pool(seed)
    rng = _rng(seed, PASTE_STREAM)
    return ["\n".join(_code_lines(rng, pool, lines_per_query)) for _ in range(n)]


def _bodies(rng: np.random.Generator, pool: list[str], n: int) -> list[str]:
    return ["\n".join(_code_lines(rng, pool, int(m))) for m in 8 + rng.integers(42, size=n)]


def ndjson_corpus(seed: int, n_docs: int) -> list[str]:
    """The ingest base corpus as NDJSON lines ``{"id", "version", "content"}``
    with ids ``doc-<i>`` and version 0."""
    return [json.dumps({"id": f"doc-{i}", "version": 0, "content": d["content"]})
            for i, d in enumerate(corpus(seed, n_docs))]


def ingest_batch(seed: int, base_docs: int, batch_size: int, upsert_share: float,
                 broken_lines: int) -> dict:
    """One NDJSON append batch at version 1: ``batch_size`` valid
    documents, ``upsert_share`` of them re-sending distinct ids of the
    base corpus (with the new version and new content) and the rest new
    ids, plus ``broken_lines`` malformed JSON lines the source must
    quarantine."""
    pool = ident_pool(seed)
    rng = _rng(seed, BATCH_STREAM)
    n_up = int(round(batch_size * upsert_share))
    version = 1
    ids = [f"doc-{base_docs + j}" for j in range(batch_size - n_up)]
    ups = [f"doc-{int(v)}" for v in rng.choice(base_docs, size=n_up, replace=False)]
    lines = [json.dumps({"id": i, "version": version, "content": c})
             for i, c in zip(ids + ups, _bodies(rng, pool, batch_size))]
    for j in range(broken_lines):
        pos = int(rng.integers(len(lines) + 1))
        lines.insert(pos, '{"id": "broken-%d-%d", "content": ' % (version, j))
    return {"lines": lines, "new_ids": ids, "upserted_ids": ups, "version": version}


def write_lines(lines: list[str], path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
