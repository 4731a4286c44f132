"""Tests of the benchmark's own parts: the input generators, and the
correctness gates, each shown to fire on a planted wrong expected value.

    python3 -m pytest perfbench -q

No Spark session is started: the gates are called with answers computed
independently (DuckDB, numpy, the generator's manifest).
"""

from __future__ import annotations

import copy
import itertools
import os
import sys
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import curation  # noqa: E402
import gen_corpus  # noqa: E402
import gen_tables  # noqa: E402
import ingest  # noqa: E402
import olap  # noqa: E402
from harness import Recorder, percentile, self_times, Span  # noqa: E402

SPEC = gen_corpus.CorpusSpec(
    n_docs=400, dup_groups=10, near_pairs=12, control_pairs=8, boilerplates=2,
    boilerplate_docs=4, eval_docs=20, contaminated=6, shards=2, n_vecs=500,
    clusters=6, n_queries=8,
)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    out = str(tmp_path_factory.mktemp("corpus"))
    return out, gen_corpus.generate(out, seed=5, spec=SPEC)


def _docs(out: str) -> dict[int, str]:
    t = pq.read_table(os.path.join(out, "documents.parquet"))
    return dict(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))


# ---------------------------------------------------------------- generators


def test_corpus_word_tokens(corpus):
    out, m = corpus
    docs = _docs(out)
    assert len(docs) == SPEC.n_docs
    counts = [len(docs[i].split()) for i in range(SPEC.n_docs)]
    assert counts == m.n_tokens
    # real multi-word documents: every one has at least MIN_TOKENS words
    assert min(counts) >= gen_corpus.MIN_TOKENS
    assert max(counts) <= gen_corpus.MAX_TOKENS + gen_corpus.CONTAM_LEN + 2 * gen_corpus.BOILERPLATE_WORDS
    assert np.mean([len(t.split()) / max(1, len(t)) for t in docs.values()]) > 0.08


def test_corpus_planted_levels(corpus):
    out, m = corpus
    docs = _docs(out)
    for a, b, j in m.near_pairs:
        got = gen_corpus.jaccard(docs[a].split(), docs[b].split())
        assert 0.85 <= got <= 0.95 and got == pytest.approx(j)
    for a, b, j in m.control_pairs:
        assert gen_corpus.jaccard(docs[a].split(), docs[b].split()) < 0.5
    for g in m.dup_groups:
        assert len({" ".join(docs[d].split()) for d in g}) == 1
        assert len({docs[d] for d in g}) == 2  # copies differ in whitespace only
    spans = {}
    for d, start, n in m.boilerplate:
        assert n >= gen_corpus.MIN_SPAN_CHARS
        spans.setdefault(n, set()).add(docs[d][start : start + n])
    assert all(len(texts) == 1 for texts in spans.values())
    evals = pq.read_table(os.path.join(out, "eval_docs.parquet"))["text"].to_pylist()
    eval_grams = {" ".join(t.split()[i : i + 8]) for t in evals for i in range(len(t.split()) - 7)}
    for d, n in m.contaminated.items():
        toks = docs[d].split()
        hits = {" ".join(toks[i : i + 8]) for i in range(len(toks) - 7)} & eval_grams
        assert len(hits) >= n


def test_corpus_is_seeded(tmp_path):
    a = gen_corpus.generate(str(tmp_path / "a"), seed=9, spec=SPEC)
    b = gen_corpus.generate(str(tmp_path / "b"), seed=9, spec=SPEC)
    assert a.near_pairs == b.near_pairs and a.n_tokens == b.n_tokens
    assert _docs(str(tmp_path / "a")) == _docs(str(tmp_path / "b"))


def test_tables_layout(tmp_path):
    rows = gen_tables.generate(str(tmp_path), seed=1, sf=0.002)
    for name in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
        f = pq.ParquetFile(tmp_path / f"{name}.parquet")
        assert f.metadata.num_row_groups == 1
    assert pq.ParquetFile(tmp_path / "lineitem.parquet").metadata.num_rows == rows["lineitem"]
    li = pq.read_table(tmp_path / "lineitem.parquet").to_pandas()
    assert set(li.l_returnflag) <= {"A", "N", "R"} and li.l_discount.max() <= 0.10


# ----------------------------------------------------------------- olap gate


def test_olap_gate_fires_on_a_wrong_result(tmp_path):
    gen_tables.generate(str(tmp_path), seed=3, sf=0.002)
    con = olap.duckdb_oracle(str(tmp_path))
    results = {sql: [con.execute(sql).fetchall()] for _, sql in itertools.islice(olap.statement_stream(3), 10)}
    rec = Recorder(None, traced=False)
    assert olap.gate(rec, results, str(tmp_path)) == 10 and rec.failures == []

    sql = next(s for s, runs in results.items() if runs[0] and any(isinstance(c, float) for c in runs[0][0]))
    row = list(results[sql][0][0])
    i = next(k for k, c in enumerate(row) if isinstance(c, float))
    row[i] += 0.01  # plant one wrong value
    results[sql][0][0] = tuple(row)
    assert olap.gate(rec, results, str(tmp_path)) == 10
    assert len(rec.failures) == 1


def test_rowsets_ignore_order_not_values():
    a = [("x", 1.5, 2), ("y", 2.25, 3)]
    assert olap.rowsets_match(list(reversed(a)), a)
    assert not olap.rowsets_match([("x", 1.5, 2), ("y", 2.26, 3)], a)
    assert not olap.rowsets_match(a[:1], a)


# ------------------------------------------------------------ curation gate


def _perfect_results(m, vectors, queries):
    dup = pd.DataFrame({
        "fp": [str(g) for g in m.dup_groups] + ["solo"],
        "keep_id": [min(g) for g in m.dup_groups] + [10**6],
        "n_copies": [len(g) for g in m.dup_groups] + [1],
    })
    pairs = [(a, b) for a, b, _ in m.near_pairs]
    pairs += [(g[i], g[j]) for g in m.dup_groups for i in range(len(g)) for j in range(i + 1, len(g))]
    minhash = pd.DataFrame({"id_a": [a for a, _ in pairs], "id_b": [b for _, b in pairs],
                            "jaccard": 0.9})
    decon = pd.DataFrame({"doc_id": list(m.contaminated), "n_hit_ngrams": list(m.contaminated.values())})
    want = curation.numpy_topk(vectors[1], vectors[0], queries[1], queries[0], curation.TOPK)
    rows = [(q, n, r + 1, s) for q, w in want.items() for r, (n, s) in enumerate(w)]
    topk = pd.DataFrame(rows, columns=["query_id", "neighbor_id", "rank", "score"])
    return {"exact_dedup": dup, "minhash_lsh_pairs": minhash, "decontaminate": decon,
            "brute_force_topk": topk, "ivf_topk": topk.iloc[: len(topk) // 2]}


def _matrix(path):
    t = pq.read_table(path)
    return t["vec_id"].to_numpy(), np.array(t["embedding"].to_pylist(), dtype=np.float64)


def test_curation_gate_fires_on_planted_wrong_expectations(corpus):
    out, m = corpus
    vectors, queries = _matrix(m.paths["embeddings"]), _matrix(m.paths["queries"])
    results = _perfect_results(m, vectors, queries)
    fails, recall = curation.check(results, m, vectors, queries)
    assert fails == [] and recall == {"llm.minhash.recall": 1.0, "llm.ivf.recall_at_k": 0.5}

    wrong = copy.deepcopy(m)
    wrong.near_pairs.append((-2, -1, 0.9))  # a planted pair the pipeline "missed"
    wrong.dup_groups[0] = wrong.dup_groups[0][:-1]
    wrong.contaminated[3] = 99
    fails, _ = curation.check(results, wrong, vectors, queries)
    assert len(fails) == 3

    bad = dict(results, brute_force_topk=results["brute_force_topk"].assign(
        score=results["brute_force_topk"].score * (1 + 1e-6)))
    fails, _ = curation.check(bad, m, vectors, queries)
    assert fails and fails[0].startswith("brute_force_topk")


# ---------------------------------------------------------------- ACID gate


def test_acid_snapshot_gate_fires_on_an_off_by_one_model():
    rng = np.random.default_rng(0)
    batch = ingest.events_batch(rng, 1, None)
    rows = [(t, int(c), Decimal(int(s)) / 100) for t, (c, s) in ingest.aggregate(batch).items()]
    assert ingest.snapshot_matches(rows, batch)
    wrong = batch.copy()
    wrong.loc[0, "value_cents"] += 1
    assert not ingest.snapshot_matches(rows, wrong)
    assert not ingest.snapshot_matches(rows, batch.iloc[1:])


def test_events_batches_stay_inside_the_watermark():
    rng = np.random.default_rng(1)
    prev = ingest.events_batch(rng, 1, None)
    cur = ingest.events_batch(rng, 2, prev)
    horizon = pd.Timedelta(minutes=15)
    assert cur.ts.min() > prev.ts.max() - horizon
    assert cur.duplicated().sum() > 0 and cur.event_id.isin(prev.event_id).sum() > 0


# ------------------------------------------------------------------ harness


def test_percentile_and_self_times():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([1.0, 2.0], 90) == pytest.approx(1.9)
    spans = [Span(0, "op", 0.0, 10.0, None, "o"), Span(1, "engine.sql", 1.0, 3.0, 0, "o"),
             Span(2, "engine.run", 4.0, 9.0, 0, "o")]
    assert self_times(spans) == {"op": 3.0, "engine.sql": 2.0, "engine.run": 5.0}
