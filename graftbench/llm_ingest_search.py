"""``llm_ingest_search``: the LLM-data pipeline over the persisted
indexes.

Generated documents draw their text from a Zipf vocabulary and carry
embeddings around planted cluster centres; each incoming batch holds
near-duplicates of already-indexed documents at a known rate. The
corpus is bootstrapped into ``NearDupIndex``, ``IvfIndex`` and
``InvertedIndex``. Each step sends the batch through
``NearDupIndex.probe``, drops the docs that hit, applies ``append``,
``IvfIndex.upsert`` and ``InvertedIndex.upsert`` to the survivors, then
sends a burst of single-query ``IvfIndex.search`` and
``InvertedIndex.bm25`` calls.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

import numpy as np

from common import Ops, Oracle, Timer, zipf_cdf, zipf_draw

SIZES = {
    "full": dict(docs=3_000, batch=400, vocab=5_000, ann=6, bm25=6),
    "tiny": dict(docs=300, batch=60, vocab=800, ann=2, bm25=2),
}
DUP_RATE = 0.1        # planted near-duplicates per incoming doc
DIM = 32              # embedding width
CLUSTERS = 24         # planted embedding clusters
NOISE = 0.35          # cluster spread
ZIPF_S = 1.05
DOC_TOKENS = (24, 64)
N_CELLS, NPROBE, K = 16, 4, 10
KMEANS_ITERS = 1
BM25_CHECKS = 2       # last-burst BM25 answers checked by brute force
ANN_RECALL_FLOOR = 0.8
DUP_FOUND_FLOOR = 0.95
QUERY_ID0 = 10**9     # ANN query ids, disjoint from doc ids
STEP_S = 15.0         # seconds of --seconds per timed step (sets the step count)


@dataclass
class Step:
    docs: list[tuple[int, str]]
    vecs: list[list[float]]
    planted: list[int]                  # doc ids of the planted near-dups
    ann: list[tuple[int, list[float]]]
    bm25: list[list[str]]


@dataclass
class Inputs:
    docs: list[tuple[int, str]]
    vecs: list[list[float]]
    warmup: Step
    steps: list[Step]


def generate(size: str, seed: int, n_steps: int) -> Inputs:
    p = SIZES[size]
    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    vocab = [f"w{i:05d}" for i in range(p["vocab"])]
    cdf = zipf_cdf(p["vocab"], ZIPF_S)
    centres = nrng.normal(size=(CLUSTERS, DIM))

    def text() -> str:
        n = rng.randint(*DOC_TOKENS)
        return " ".join(vocab[zipf_draw(rng, cdf)] for _ in range(n))

    def vec(around=None) -> list[float]:
        base = centres[rng.randrange(CLUSTERS)] if around is None else np.asarray(around)
        spread = NOISE if around is None else NOISE / 10
        return [float(x) for x in base + spread * nrng.normal(size=DIM)]

    docs = [(i, text()) for i in range(p["docs"])]
    vecs = [vec() for _ in docs]
    indexed = list(range(p["docs"]))  # ids a planted dup may copy
    by_id = {i: (t, v) for (i, t), v in zip(docs, vecs)}
    next_id = p["docs"]
    next_q = QUERY_ID0

    def step(n_queries: int | None = None) -> Step:
        nonlocal next_id, next_q
        out_docs, out_vecs, planted = [], [], []
        for _ in range(p["batch"]):
            if rng.random() < DUP_RATE:
                src_text, src_vec = by_id[rng.choice(indexed)]
                toks = src_text.split()
                toks[rng.randrange(len(toks))] = vocab[rng.randrange(p["vocab"])]
                t, v = " ".join(toks), vec(src_vec)
                planted.append(next_id)
            else:
                t, v = text(), vec()
            out_docs.append((next_id, t))
            out_vecs.append(v)
            by_id[next_id] = (t, v)
            next_id += 1
        # the engine drops the planted dups; the rest become indexable
        indexed.extend(i for i, _ in out_docs if i not in set(planted))
        ann = []
        for _ in range(n_queries or p["ann"]):
            ann.append((next_q, vec()))
            next_q += 1
        bm25 = [rng.sample(vocab[20:400], 3) for _ in range(n_queries or p["bm25"])]
        return Step(out_docs, out_vecs, planted, ann, bm25)

    warmup = step(n_queries=1)  # one call of each serving entry point
    steps = [step() for _ in range(n_steps)]
    return Inputs(docs, vecs, warmup, steps)


def _jaccard_ok(a: str, b: str) -> bool:
    """Exact 3-shingle Jaccard >= 1/2 on the raw texts (the probe's
    contract: 2 * |A ∩ B| >= |A ∪ B|)."""

    def sh(t):
        w = t.lower().split()
        return {" ".join(w[i : i + 3]) for i in range(max(len(w) - 2, 1))}

    x, y = sh(a), sh(b)
    return 2 * len(x & y) >= len(x | y)


class Workload:
    def __init__(self, spark, root: str, ops: Ops):
        from updatable_persistent_map_reduce_spark.plans.ann_index import IvfIndex
        from updatable_persistent_map_reduce_spark.plans.neardup_index import NearDupIndex
        from updatable_persistent_map_reduce_spark.plans.text_index import InvertedIndex

        self.spark = spark
        self.ops = ops
        self.nd = NearDupIndex(spark, f"{root}/neardup")
        self.ivf = IvfIndex(spark, f"{root}/ivf", n_cells=N_CELLS)
        self.ti = InvertedIndex(spark, f"{root}/text")
        # driver-side model: every live (indexed) doc, in index order
        self.texts: dict[int, str] = {}
        self.vec_ids: list[int] = []
        self.vec_rows: list[list[float]] = []
        self.probed: dict[int, str] = {}  # every doc sent through probe
        self.dup_pairs: list[tuple[int, int]] = []
        self.planted = self.found = 0
        self.ann_answers: list[tuple[list[float], int, list[int]]] = []
        self.bm25_answers: list[tuple[list[str], list[tuple[int, float]]]] = []

    def _docs_df(self, rows):
        return self.spark.createDataFrame(rows, "doc_id long, text string")

    def _vecs_df(self, ids, vecs):
        return self.spark.createDataFrame(
            list(zip(ids, vecs)), "vec_id long, embedding array<float>"
        )

    def build(self, inp: Inputs) -> int:
        ids = [i for i, _ in inp.docs]
        docs, vecs = self._docs_df(inp.docs), self._vecs_df(ids, inp.vecs)
        self.nd.build(docs)
        self.ivf.build(vecs, kmeans_iters=KMEANS_ITERS)
        self.ti.build(docs)
        self._index(inp.docs, inp.vecs)
        return len(inp.docs)

    def _index(self, docs, vecs) -> None:
        for (i, t), v in zip(docs, vecs):
            self.texts[i] = t
            self.vec_ids.append(i)
            self.vec_rows.append(v)

    def step(self, s: Step) -> tuple[float, int, list[float]]:
        batch = self._docs_df(s.docs)
        t = Timer()
        ok, pairs = self.ops.run(lambda: self.nd.probe(batch).collect())
        hit = {r["doc_a"] for r in pairs} if ok else set()
        keep = [k for k, (i, _) in enumerate(s.docs) if i not in hit]
        surv_docs = [s.docs[k] for k in keep]
        surv_vecs = [s.vecs[k] for k in keep]
        surv = self._docs_df(surv_docs)
        surv_v = self._vecs_df([i for i, _ in surv_docs], surv_vecs)
        ok_a, _ = self.ops.run(self.nd.append, surv)
        ok_v, _ = self.ops.run(self.ivf.upsert, surv_v)
        ok_t, _ = self.ops.run(self.ti.upsert, surv)
        batch_s = t()
        if ok:
            self.dup_pairs += [(r["doc_a"], r["doc_b"]) for r in pairs]
            self.planted += len(s.planted)
            self.found += len(hit & set(s.planted))
        if ok_a and ok_v and ok_t:
            self._index(surv_docs, surv_vecs)
        self.probed.update(s.docs)

        lat = []
        self.bm25_answers = []  # only the last burst is checked by brute force
        for (qid, qv), terms in zip(s.ann, s.bm25):
            t = Timer()
            ok, rows = self.ops.run(
                lambda: self.ivf.search([(qid, qv)], k=K, nprobe=NPROBE).collect()
            )
            lat.append(t())
            if ok:
                self.ann_answers.append(
                    (qv, len(self.vec_ids), [r["vec_id"] for r in rows])
                )
            t = Timer()
            ok, rows = self.ops.run(lambda: self.ti.bm25(terms, k=K).collect())
            lat.append(t())
            if ok:
                self.bm25_answers.append(
                    (terms, [(r["doc_id"], r["score"]) for r in rows])
                )
        return batch_s, len(s.docs), lat

    # ----- oracle (untimed) --------------------------------------------------

    def check(self, oracle: Oracle) -> None:
        from pyspark.sql import functions as F

        from updatable_persistent_map_reduce_spark.operators import search

        # near-dup: every reported pair is a true near-dup, and the
        # planted ones are found
        for a, b in self.dup_pairs:
            oracle.check(
                a in self.probed
                and b in self.texts
                and _jaccard_ok(self.probed[a], self.texts[b]),
                f"probe pair ({a}, {b})",
            )
        oracle.share(self.found, self.planted, "planted near-dups found", DUP_FOUND_FLOOR)

        # ANN: recall@10 against exact cosine top-k over the vectors
        # that were live when the query ran
        mat = np.asarray(self.vec_rows, dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        ids = np.asarray(self.vec_ids)
        right = total = 0
        for qv, n_live, got in self.ann_answers:
            q = np.asarray(qv, dtype=np.float64)
            cos = np.round(mat[:n_live] @ (q / np.linalg.norm(q)), 6)
            order = np.lexsort((ids[:n_live], -cos))[:K]
            right += len(set(ids[order].tolist()) & set(got))
            total += K
        oracle.share(right, total, "ANN recall@10", ANN_RECALL_FLOOR)

        # BM25: the last burst's answers against the brute-force
        # operator over the live corpus
        corpus = self._docs_df(sorted(self.texts.items())).cache()
        saved = search.QUERY_TERMS
        try:
            for terms, got in self.bm25_answers[:BM25_CHECKS]:
                search.QUERY_TERMS = list(terms)
                want = [
                    (r["doc_id"], r["score"])
                    for r in search.bm25_score_frame(corpus)
                    .orderBy(F.desc("score"), "doc_id")
                    .limit(K)
                    .collect()
                ]
                oracle.check(got == want, f"bm25({terms})")
        finally:
            search.QUERY_TERMS = saved
            corpus.unpersist()

    def corrupt_one_lookup(self) -> None:
        """Smoke-test hook: falsify one checked BM25 answer."""
        terms, got = self.bm25_answers[0]
        self.bm25_answers[0] = (terms, got + [(-1, 0.0)])

    def live_records(self) -> int:
        return len(self.texts)

    def engine_objects(self) -> list:
        return [self.nd, self.ivf, self.ti]
