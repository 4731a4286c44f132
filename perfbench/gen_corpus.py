"""Seeded LLM-curation corpus with planted structure, for the benchmark's
curation pipeline and its correctness gates.

Every document is whitespace-tokenised text over a synthetic vocabulary, so
word shingles, word n-grams and character windows all do real work. Planted:

- exact-duplicate groups (copies differ only in runs of whitespace, which
  ``exact_dedup`` normalises away);
- near-duplicate pairs whose word-3-shingle Jaccard lies in [0.85, 0.95];
- control pairs whose Jaccard stays below 0.5;
- boilerplate spans of at least 60 characters (``exact_substring_spans``'
  ``min_len``) shared by several documents but shorter than 16 words (the
  ``duplicate_clusters`` n-gram); the benchmark does not run those two
  stages, so here they are shared text far below any near-duplicate
  threshold;
- eval documents and training documents that copy ``CONTAM_LEN`` words of
  one of them (``decontaminate`` hits at n = 8);
- embeddings drawn around planted cluster centres, and query vectors near
  those centres.

The returned manifest lists what was planted; ``perfbench/curation.py``
checks the pipeline's output against it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MIN_SPAN_CHARS = 60  # exact_substring_spans' default min_len
NGRAM_N = 8  # decontaminate's default n
SHINGLE_N = 3  # minhash_lsh_pairs' default shingle size
MIN_TOKENS, MAX_TOKENS = 80, 160  # words per document
VOCAB = 20000
BOILERPLATE_WORDS = 12
CONTAM_LEN = 10  # eval words copied into a contaminated document
ROW_GROUPS_PER_SHARD = 2
DIM = 32  # embedding width


@dataclass
class CorpusSpec:
    n_docs: int
    dup_groups: int
    near_pairs: int
    control_pairs: int
    boilerplates: int
    boilerplate_docs: int  # documents carrying each boilerplate span
    eval_docs: int
    contaminated: int
    shards: int
    n_vecs: int
    clusters: int
    n_queries: int


@dataclass
class Manifest:
    n_docs: int
    n_tokens: list[int]  # word tokens per document, by doc id
    dup_groups: list[list[int]]
    near_pairs: list[tuple[int, int, float]]  # (id_a, id_b, jaccard)
    control_pairs: list[tuple[int, int, float]]
    boilerplate: list[tuple[int, int, int]]  # (doc_id, char_start, char_len)
    contaminated: dict[int, int] = field(default_factory=dict)  # doc -> planted 8-grams
    paths: dict[str, str] = field(default_factory=dict)


def shingle_set(tokens: list[str], n: int = SHINGLE_N) -> set[str]:
    return {" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a: list[str], b: list[str]) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    return len(sa & sb) / len(sa | sb)


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lower-case words of 3-9 letters."""
    words: list[str] = []
    while len(words) < n:
        letters = rng.integers(97, 123, size=(2 * n, 9), dtype=np.uint8)
        lens = rng.integers(3, 10, size=2 * n)
        raw = [row[:ln].tobytes().decode() for row, ln in zip(letters, lens)]
        words = list(dict.fromkeys(words + raw))
    return np.array(words[:n])


def _mutate(rng, tokens: list[str], vocab: np.ndarray, n_sub: int) -> list[str]:
    """Replace ``n_sub`` tokens at distinct positions with fresh vocab words."""
    out = list(tokens)
    for pos in rng.choice(len(out), size=n_sub, replace=False):
        out[pos] = str(rng.choice(vocab))
    return out


def _variant(rng, tokens, vocab, lo: float, hi: float) -> tuple[list[str], float]:
    """A mutated copy whose shingle Jaccard with ``tokens`` lies in [lo, hi]."""
    # Each spread-out substitution removes up to SHINGLE_N shingles from the
    # shared set, so J ~ (S - 3r) / (S + 3r); start there and walk r.
    target = rng.uniform(lo, hi)
    s = len(tokens) - SHINGLE_N + 1
    n_sub = max(1, int(round(s * (1 - target) / (1 + target) / SHINGLE_N)))
    for _ in range(200):
        cand = _mutate(rng, tokens, vocab, min(n_sub, len(tokens)))
        j = jaccard(tokens, cand)
        if lo <= j <= hi:
            return cand, j
        n_sub = max(1, n_sub + (1 if j > hi else -1) + int(rng.integers(-1, 2)))
    raise RuntimeError(f"could not reach Jaccard in [{lo}, {hi}]")


def generate(out_dir: str, seed: int, spec: CorpusSpec) -> Manifest:
    """Write ``documents.parquet`` (a directory of shards) and
    ``embeddings.parquet`` in the catalog's layout, plus ``eval_docs.parquet``
    and ``queries.parquet``, under ``out_dir``; return what was planted."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, VOCAB)
    # Zipf-like word frequencies: realistic skew, yet random documents share
    # almost no 3-shingles and no 8-grams.
    p = 1.0 / (np.arange(VOCAB) + 50.0)
    p /= p.sum()

    def fresh(n_tok: int) -> list[str]:
        return vocab[rng.choice(VOCAB, size=n_tok, p=p)].tolist()

    lengths = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=spec.n_docs)
    words = fresh(int(lengths.sum()))
    ends = np.cumsum(lengths).tolist()
    docs = [words[e - n : e] for e, n in zip(ends, lengths.tolist())]
    ids = rng.permutation(spec.n_docs)  # planted roles go to random doc ids
    cursor = 0

    def take(k: int) -> list[int]:
        nonlocal cursor
        out = [int(i) for i in ids[cursor : cursor + k]]
        cursor += k
        return out

    # Exact duplicates: copies of the group's first document.
    dup_groups = []
    for _ in range(spec.dup_groups):
        group = sorted(take(int(rng.integers(2, 5))))
        for d in group[1:]:
            docs[d] = list(docs[group[0]])
        dup_groups.append(group)
    near_pairs = []
    for _ in range(spec.near_pairs):
        a, b = take(2)
        docs[b], j = _variant(rng, docs[a], vocab, 0.85, 0.95)
        near_pairs.append((min(a, b), max(a, b), j))
    control_pairs = []
    for _ in range(spec.control_pairs):
        a, b = take(2)
        docs[b], j = _variant(rng, docs[a], vocab, 0.2, 0.45)
        control_pairs.append((min(a, b), max(a, b), j))

    # Eval set and contamination: copy CONTAM_LEN consecutive eval words
    # into a training document (CONTAM_LEN - 7 distinct 8-grams).
    evals = [fresh(int(rng.integers(40, 80))) for _ in range(spec.eval_docs)]
    contaminated: dict[int, int] = {}
    for d in take(spec.contaminated):
        ev = evals[int(rng.integers(len(evals)))]
        start = int(rng.integers(0, len(ev) - CONTAM_LEN))
        piece = ev[start : start + CONTAM_LEN]
        pos = int(rng.integers(0, len(docs[d])))
        docs[d][pos:pos] = piece
        contaminated[d] = CONTAM_LEN - NGRAM_N + 1

    # Boilerplate: a shared word span inserted as-is; its character offset is
    # recorded after the final text is built.
    boiler_at: list[tuple[int, int, int]] = []  # (doc, token_pos, n_words)
    for _ in range(spec.boilerplates):
        span = fresh(BOILERPLATE_WORDS)
        while len(" ".join(span)) < MIN_SPAN_CHARS:
            span.append(str(rng.choice(vocab)))
        for d in take(spec.boilerplate_docs):
            pos = int(rng.integers(1, len(docs[d])))
            docs[d][pos:pos] = span
            boiler_at.append((d, pos, len(span)))
    if cursor > spec.n_docs:
        raise ValueError("corpus spec plants more roles than it has documents")

    copies = {d for g in dup_groups for d in g[1:]}
    texts = []
    for i, toks in enumerate(docs):
        if i in copies:  # widen every seventh gap: same tokens, other bytes
            texts.append("".join(t + ("  " if k % 7 == 3 else " ") for k, t in enumerate(toks)).rstrip())
        else:
            texts.append(" ".join(toks))
    boilerplate = []
    for d, pos, n in boiler_at:
        # character offset of the span in the final single-spaced text
        start = len(" ".join(docs[d][:pos])) + 1
        boilerplate.append((d, start, len(" ".join(docs[d][pos : pos + n]))))

    os.makedirs(out_dir, exist_ok=True)
    doc_ids = np.arange(spec.n_docs, dtype=np.int64)
    docs_dir = os.path.join(out_dir, "documents.parquet")
    os.makedirs(docs_dir, exist_ok=True)
    per = -(-spec.n_docs // spec.shards)
    for s in range(spec.shards):
        sl = slice(s * per, (s + 1) * per)
        t = pa.table({"doc_id": doc_ids[sl], "text": pa.array(texts[sl], pa.string())})
        rg = max(1, -(-t.num_rows // ROW_GROUPS_PER_SHARD))
        pq.write_table(t, os.path.join(docs_dir, f"part-{s:05d}.parquet"), row_group_size=rg)
    eval_path = os.path.join(out_dir, "eval_docs.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(len(evals), dtype=np.int64),
                "text": pa.array([" ".join(e) for e in evals], pa.string()),
            }
        ),
        eval_path,
    )

    centres = rng.normal(size=(spec.clusters, DIM))
    member = rng.integers(0, spec.clusters, size=spec.n_vecs)
    vecs = (centres[member] + 0.35 * rng.normal(size=(spec.n_vecs, DIM))).astype(np.float32)
    qc = rng.integers(0, spec.clusters, size=spec.n_queries)
    qv = (centres[qc] + 0.35 * rng.normal(size=(spec.n_queries, DIM))).astype(np.float32)
    vec_path = os.path.join(out_dir, "embeddings.parquet")
    query_path = os.path.join(out_dir, "queries.parquet")
    for path, arr, label in ((vec_path, vecs, member), (query_path, qv, qc)):
        pq.write_table(
            pa.table(
                {
                    "vec_id": np.arange(len(arr), dtype=np.int64),
                    "embedding": pa.array(list(arr), pa.list_(pa.float32())),
                    "label": label.astype(np.int32),
                }
            ),
            path,
            row_group_size=max(1, -(-len(arr) // 4)),
        )
    return Manifest(
        n_docs=spec.n_docs,
        n_tokens=[len(t.split()) for t in texts],
        dup_groups=dup_groups,
        near_pairs=near_pairs,
        control_pairs=control_pairs,
        boilerplate=boilerplate,
        contaminated=contaminated,
        paths={"documents": docs_dir, "eval": eval_path, "embeddings": vec_path, "queries": query_path},
    )

