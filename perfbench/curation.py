"""The LLM-curation pipeline of the ingest_curate workload and its gates.

Each stage is one public call into ``hdp2_5_hive2_spark.llm`` (the build:
some stages already run driver-side jobs here) followed by collecting its
result to pandas (the run). The gates compare those results with what
``gen_corpus`` planted, outside the timed region.
"""

from __future__ import annotations

import numpy as np

STAGES = (
    "exact_dedup",
    "minhash_lsh_pairs",
    "decontaminate",
    "brute_force_topk",
    "ivf_topk",
)
TOPK = 10


def builders(spark, eng, inputs) -> dict:
    """stage -> zero-argument callable returning the stage's DataFrame."""
    from hdp2_5_hive2_spark.llm import curation as cur
    from hdp2_5_hive2_spark.llm import dedup
    from hdp2_5_hive2_spark.llm import similarity as sim

    docs, vecs = eng.table("documents"), eng.table("embeddings").select("vec_id", "embedding")
    evals = spark.read.parquet(inputs["corpus"].paths["eval"])
    queries = spark.read.parquet(inputs["corpus"].paths["queries"]).select("vec_id", "embedding")
    return {
        "exact_dedup": lambda: dedup.exact_dedup(docs),
        # 16 bands of 2 rows: the setting whose recall the function documents
        # as exact above its 0.8 threshold (its default of 8 bands of 4 rows
        # misses ~0.3% of pairs at Jaccard 0.85, and the gate demands all)
        "minhash_lsh_pairs": lambda: dedup.minhash_lsh_pairs(docs, bands=16),
        "decontaminate": lambda: cur.decontaminate(docs, evals),
        "brute_force_topk": lambda: sim.brute_force_topk(vecs, queries, k=TOPK),
        "ivf_topk": lambda: sim.ivf_topk(vecs, queries, k=TOPK),
    }


def run(rec, spark, eng, inputs) -> dict:
    """Every stage once, in order; returns stage -> result pandas frame."""
    results = {}
    build = builders(spark, eng, inputs)
    for stage in STAGES:
        with rec.op(f"llm.{stage}"):
            df = rec.call(f"llm.{stage}.build", build[stage])
            results[stage] = rec.call(f"llm.{stage}.run", df.toPandas)
    return results


# ------------------------------------------------------------------- gates


def numpy_topk(vecs: np.ndarray, vec_ids: np.ndarray, queries: np.ndarray, q_ids, k: int):
    """Exact cosine top-k per query, ties broken by neighbour id."""
    a = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ a.T
    out = {}
    for i, qid in enumerate(q_ids):
        order = np.lexsort((vec_ids, -sims[i]))[:k]
        out[int(qid)] = [(int(vec_ids[j]), float(sims[i, j])) for j in order]
    return out


def check(results: dict, corpus, vectors, queries) -> tuple[list[str], dict[str, float]]:
    """(failure messages, recall metrics) for one pipeline pass.

    ``vectors``/``queries`` are (ids, float matrix) pairs as written."""
    fails: list[str] = []
    r = results

    if "exact_dedup" in r:
        got = {(int(a), int(n)) for a, n in zip(r["exact_dedup"].keep_id, r["exact_dedup"].n_copies) if n > 1}
        want = {(min(g), len(g)) for g in corpus.dup_groups}
        if got != want:
            fails.append(f"exact_dedup: {len(got ^ want)} duplicate groups differ from the planted ones")

    recall = {}
    if "minhash_lsh_pairs" in r:
        pairs = {(int(a), int(b)) for a, b in zip(r["minhash_lsh_pairs"].id_a, r["minhash_lsh_pairs"].id_b)}
        planted = {(a, b) for a, b, _ in corpus.near_pairs}
        recall["llm.minhash.recall"] = len(planted & pairs) / len(planted)
        missed = planted - pairs
        dup_pairs = {(g[i], g[j]) for g in corpus.dup_groups for i in range(len(g)) for j in range(i + 1, len(g))}
        if missed or dup_pairs - pairs:
            fails.append(f"minhash_lsh_pairs: missed {len(missed)} planted near-dup and "
                         f"{len(dup_pairs - pairs)} exact-dup pairs")
        controls = {(a, b) for a, b, _ in corpus.control_pairs} & pairs
        if controls:
            fails.append(f"minhash_lsh_pairs: reported {len(controls)} control pairs below Jaccard 0.5")

    if "decontaminate" in r:
        hits = dict(zip(r["decontaminate"].doc_id.astype(int), r["decontaminate"].n_hit_ngrams.astype(int)))
        short = [d for d, n in corpus.contaminated.items() if hits.get(d, 0) < n]
        if short:
            fails.append(f"decontaminate: {len(short)} planted contaminated documents missed")

    want = numpy_topk(vectors[1], vectors[0], queries[1], queries[0], TOPK)
    if "brute_force_topk" in r:
        got: dict[int, list[tuple[int, int, float]]] = {}
        bf = r["brute_force_topk"]
        for q, n, k, s in zip(bf.query_id, bf.neighbor_id, bf["rank"], bf.score):
            got.setdefault(int(q), []).append((int(k), int(n), float(s)))
        bad = 0
        for q, w in want.items():
            g = [(n, s) for _, n, s in sorted(got.get(q, []))]
            if [n for n, _ in g] != [n for n, _ in w] or not np.allclose(
                [s for _, s in g], [s for _, s in w], rtol=1e-9, atol=1e-9
            ):
                bad += 1
        if bad:
            fails.append(f"brute_force_topk: {bad} queries differ from the numpy top-{TOPK}")
    if "ivf_topk" in r:
        # approximate search: no gate, its recall against the exact top-k
        exact = {(q, n) for q, w in want.items() for n, _ in w}
        ivf = r["ivf_topk"]
        recall["llm.ivf.recall_at_k"] = len(set(zip(ivf.query_id.astype(int), ivf.neighbor_id.astype(int))) & exact) / len(exact)
    return fails, recall
