"""Semantic invariants of the round-3 LLM-pipeline operators that the
row/oracle gate cannot express: SemDeDup's greedy guarantees and the
nested-sample property of stratified hash sampling."""

from __future__ import annotations

import numpy as np
import pytest

from updatable_persistent_map_reduce_spark.operators import all_queries

QUERIES = all_queries()


@pytest.fixture(scope="module")
def semdedup(spark, sf_dir):
    # The float greedy kept-chain PRODUCTION variant — the registered
    # q_dedup_semantic is the integer-exact dominance form (oracle-
    # backed by the driver gate; ground-truth-checked below by
    # test_semdedup_registered_matches_numpy_dominance).
    from updatable_persistent_map_reduce_spark.operators.dedup import (
        semantic_dedup_greedy,
    )

    rows = semantic_dedup_greedy(spark, sf_dir).collect()
    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    for v in emb.values():
        v /= np.linalg.norm(v)
    return rows, emb


def test_semdedup_covers_every_vector_once(semdedup, spark, sf_dir):
    rows, emb = semdedup
    assert sorted(r.vec_id for r in rows) == sorted(emb)


def test_semdedup_dropped_vectors_have_a_qualifying_keeper(semdedup):
    from updatable_persistent_map_reduce_spark.operators.dedup import SEM_TAU

    rows, emb = semdedup
    kept = {(r.cell, r.vec_id) for r in rows if r.kept}
    dropped = [r for r in rows if not r.kept]
    assert dropped, "sf data should produce at least one semantic dup"
    for r in dropped:
        assert (r.cell, r.kept_by) in kept, r
        assert float(emb[r.vec_id] @ emb[r.kept_by]) >= SEM_TAU - 1e-9, r


def test_semdedup_kept_set_is_an_independent_set(semdedup):
    """Greedy guarantee: no two KEPT members of a cell are mutual
    semantic duplicates (each later keeper was checked against all
    earlier keepers)."""
    from updatable_persistent_map_reduce_spark.operators.dedup import SEM_TAU

    rows, emb = semdedup
    by_cell: dict[int, list[int]] = {}
    for r in rows:
        if r.kept:
            by_cell.setdefault(r.cell, []).append(r.vec_id)
    for members in by_cell.values():
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                assert float(emb[a] @ emb[b]) < SEM_TAU + 1e-9, (a, b)


def test_semdedup_deterministic(spark, sf_dir, semdedup):
    from updatable_persistent_map_reduce_spark.operators.dedup import (
        semantic_dedup_greedy,
    )

    rows, _ = semdedup
    again = semantic_dedup_greedy(spark, sf_dir).collect()
    key = lambda r: r.vec_id  # noqa: E731
    assert sorted(rows, key=key) == sorted(again, key=key)


def test_semdedup_registered_matches_numpy_dominance(spark, sf_dir):
    """The registered (oracle-backed) q_dedup_semantic recomputed in
    numpy from the raw parquet: global int quantization, 4 seed
    centroids, integer L2 cells, farther-from-centroid-first
    dominance with the cross-multiplied integer cosine — every row
    must agree with the engine exactly (ground truth independent of
    both Spark and DuckDB)."""
    emb_rows = sorted(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect(),
        key=lambda r: r.vec_id,
    )
    ids = np.array([r.vec_id for r in emb_rows], dtype=np.int64)
    m = np.stack(
        [np.asarray(r.embedding, dtype=np.float64) for r in emb_rows]
    )
    gmax = np.abs(m).max()
    code = np.floor(m / (gmax / 127) + 0.5).astype(np.int64)
    cents = code[:4]
    d = ((code[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    cell = d.argmin(axis=1)  # argmin ties to lowest index, per spec
    cdist = d.min(axis=1)
    nrm = (code**2).sum(axis=1)
    expect = {}
    for i in range(len(ids)):
        # dominators: same cell, earlier priority (cdist desc, id asc)
        pri = (cdist > cdist[i]) | ((cdist == cdist[i]) & (ids < ids[i]))
        cand = np.where((cell == cell[i]) & pri)[0]
        dot = code[cand] @ code[i]
        ok = (
            (nrm[cand] > 0)
            & (nrm[i] > 0)
            & (dot >= 0)
            & (100 * dot * dot >= 9 * nrm[cand] * nrm[i])
        )
        doms = cand[ok]
        if len(doms) == 0:
            expect[int(ids[i])] = (int(cell[i]), int(cdist[i]), True, int(ids[i]))
        else:
            pd_ = ((code[doms] - code[i]) ** 2).sum(axis=1)
            j = doms[np.lexsort((ids[doms], pd_))[0]]
            expect[int(ids[i])] = (
                int(cell[i]), int(cdist[i]), False, int(ids[j]),
            )
    got = {
        int(r.vec_id): (int(r.cell), int(r.cdist), bool(r.kept), int(r.kept_by))
        for r in QUERIES["q_dedup_semantic"].fn(spark, sf_dir).collect()
    }
    assert got == expect
    assert any(not v[2] for v in got.values()), "no drops fired"


def test_stratified_sample_nests_inside_higher_rates(spark, sf_dir):
    """Same hash, different rates => membership nests: the 10% English
    stratum is exactly the flat 10% sample restricted to English, and
    every stratum is a subset of what a higher rate would keep."""
    flat = {
        r.doc_id
        for r in QUERIES["q_sample_hash"].fn(spark, sf_dir).collect()
        if r.lang == "en"
    }
    strat = QUERIES["q_sample_stratified"].fn(spark, sf_dir).collect()
    assert {r.doc_id for r in strat if r.lang == "en"} == flat
    # non-en strata (rates >= 20%) must contain their own 10% core
    from updatable_persistent_map_reduce_spark.operators.pipeline import (
        _KNUTH,
        _M32,
    )

    kept = {r.doc_id for r in strat}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    for d in docs:
        if (d.doc_id * _KNUTH) % _M32 % 100 < 10:
            assert d.doc_id in kept, d.doc_id


def test_embed_quantize_reconstruction_bound(spark, sf_dir):
    """int8 symmetric quantization invariant: max reconstruction error
    is at most scale/2 (+eps), and no lane overflows past the
    saturation count it reports."""
    rows = QUERIES["q_embed_quantize"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # both outputs are rounded to 6 decimals: allow one ulp of
        # that rounding on each side of the exact err <= scale/2 bound
        assert r.max_err <= r.scale / 2 + 1e-6, r
        assert r.n_sat >= 0, r


def test_bm25_scores_docs_containing_query_terms(spark, sf_dir):
    """Every BM25 hit actually contains >=1 query term; scores are
    positive and the result is sorted-compatible (top-k by rounded
    score, doc_id tiebreak)."""
    from updatable_persistent_map_reduce_spark.operators.search import (
        QUERY_TERMS,
        TOP_DOCS,
    )

    rows = QUERIES["q_bm25"].fn(spark, sf_dir).collect()
    assert 0 < len(rows) <= TOP_DOCS
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    for r in rows:
        assert r.score > 0, r
        toks = set(docs[r.doc_id].lower().split())
        assert toks & set(QUERY_TERMS), r


def test_sliding_window_counts_are_4x_tumbling_15min(spark, sf_dir):
    """Every event lands in exactly 4 overlapping 1h/15min windows, so
    the sliding counts total 4x the event count."""
    ev_total = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    rows = QUERIES["q_stream_sliding"].fn(spark, sf_dir).collect()
    assert sum(r.cnt for r in rows) == 4 * ev_total


def test_doc_len_histogram_shares_sum_to_one(spark, sf_dir):
    rows = QUERIES["q_doc_len_histogram"].fn(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert abs(sum(r.share for r in rows) - 1.0) < 0.01


def test_near_dup_planted_pair_recall(spark):
    """Ground-truth LSH recall: a synthetic corpus with exactly one
    planted near-copy per 10 docs (one token of 50 mutated, Jaccard
    ~0.9) must yield exactly n/10 verified pairs — the LSH banding
    (16 minhashes, 8 bands of 2) may not drop a single planted pair at
    this similarity, and exact-Jaccard verification may not admit any
    unplanted one (distinct docs share ~0 shingles)."""
    from tools.scale_dedup import synth_corpus
    from updatable_persistent_map_reduce_spark.operators.dedup import (
        near_dup_pairs,
    )

    n = 2000
    pairs = near_dup_pairs(synth_corpus(spark, n)).collect()
    assert len(pairs) == n // 10
    for r in pairs:
        assert {r.doc_a % 10, r.doc_b % 10} == {0, 1}, r
        assert abs(r.doc_a - r.doc_b) == 1, r
        assert r.jaccard >= 0.5, r


def test_substring_dedup_detects_misaligned_planted_span(spark):
    """The stride-1 guarantee q_dedup_substring rests on: a >= w-char
    span shared by two documents is detected even when its copies sit
    at offsets that differ by an amount not divisible by any stride —
    the regression a 'cheaper' strided window extraction would cause.
    Unique filler (per-doc salted tokens) shares no 32-char window, so
    the planted span is the ONLY detection and the expected counts are
    exact: a shared span of length L yields L - w + 1 distinct
    windows, every one repeated across exactly the planted pair."""
    from updatable_persistent_map_reduce_spark.operators.dedup import (
        repeated_window_summary,
    )

    span = "the quick brown fox jumps over the lazy dog 0123456789"  # 54
    rows = [
        # planted pair: span at offset 0 in doc 0, offset 37 in doc 1
        (0, "planted", span + " eagle0 falcon0 heron0 osprey0 kestrel0"),
        (1, "planted", "albatross1 cormorant1 sandpiper1 x " + span),
        # clean docs: salted vocab, no shared 32-char window anywhere
        (2, "clean", "penguin2 pelican2 puffin2 plover2 ptarmigan2 p2"),
        (3, "clean", "swallow3 swift3 starling3 stork3 shearwater3 s3"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["source"]: (r["docs_affected"], r["dup_windows"])
        for r in repeated_window_summary(docs, w=32).collect()
    }
    assert got == {"planted": (2, len(span) - 32 + 1)}


def test_substring_dedup_hashed_path_matches_raw(spark, sf_dir):
    """The 100 TB shuffle shape (8-byte xxhash64 window keys) must
    produce the identical per-source summary as the exact raw-window
    path on real data — hashing changes shuffle bytes, not results
    (a divergence would mean a collision merged distinct windows,
    astronomically unlikely at 2^-64 per pair and caught here)."""
    from updatable_persistent_map_reduce_spark.operators.dedup import (
        repeated_window_summary,
    )
    from updatable_persistent_map_reduce_spark.sources import Catalog

    docs = Catalog(spark, sf_dir).documents
    raw = sorted(
        (r["source"], r["docs_affected"], r["dup_windows"])
        for r in repeated_window_summary(docs).collect()
    )
    hashed = sorted(
        (r["source"], r["docs_affected"], r["dup_windows"])
        for r in repeated_window_summary(docs, hashed=True).collect()
    )
    assert raw == hashed and raw


def test_sketch_union_estimate_within_5pct(spark, sf_dir):
    """Union of per-source HLL sketches estimates the corpus distinct
    count within 5% of the exact value (doc_ids are unique, so exact =
    row count)."""
    [r] = QUERIES["q_sketch_union"].fn(spark, sf_dir).collect()
    assert r.n_sketches >= 1
    assert abs(r.est_distinct - r.exact_distinct) <= 0.05 * r.exact_distinct


def test_pagerank_matches_numpy_power_iteration(spark, sf_dir):
    """Distributed PageRank equals numpy power iteration on the same
    edge set (same teleport + dangling handling) within 1e-6, and the
    ranks form a probability distribution."""
    from updatable_persistent_map_reduce_spark.operators.dedup import (
        lsh_candidate_edges,
    )
    from updatable_persistent_map_reduce_spark.operators.graph import (
        PR_DAMPING,
        PR_ITERS,
        pagerank,
    )
    from updatable_persistent_map_reduce_spark.functions.vectors import (
        planted_corpus,
    )
    from updatable_persistent_map_reduce_spark.sources import Catalog, spread

    e = spread(planted_corpus(Catalog(spark, sf_dir).embeddings))
    nodes = e.select("vec_id")
    edges = lsh_candidate_edges(spark, e)
    assert edges.count() > 0, "planted corpus must yield similarity edges"
    got = {
        r.vec_id: r.rank
        for r in pagerank(spark, nodes, edges).collect()
    }

    ids = sorted(r.vec_id for r in nodes.collect())
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    adj = [[] for _ in range(n)]
    for r in edges.collect():
        adj[idx[r.va]].append(idx[r.vb])
        adj[idx[r.vb]].append(idx[r.va])
    rank = np.full(n, 1.0 / n)
    d = PR_DAMPING
    for _ in range(PR_ITERS):
        nxt = np.zeros(n)
        dangling = sum(rank[i] for i in range(n) if not adj[i])
        for i in range(n):
            deg = len(adj[i])
            for j in adj[i]:
                nxt[j] += rank[i] / deg
        rank = (1.0 - d) / n + d * (nxt + 0.0) + d * dangling / n
    assert abs(sum(got.values()) - 1.0) < 1e-3
    for v, i in idx.items():
        assert abs(got[v] - rank[i]) < 1e-5, (v, got[v], rank[i])

    # the integer fixed-point form (the REGISTERED, oracle-backed
    # variant) tracks the same numpy ranks: floor error is < 1 unit of
    # 1e-12 per division, geometrically damped by 17/20 per iteration
    from updatable_persistent_map_reduce_spark.operators.graph import (
        PR_SCALE,
        pagerank_fp,
    )

    got_fp = {
        r.vec_id: r.r / PR_SCALE
        for r in pagerank_fp(spark, nodes, edges).collect()
    }
    for v, i in idx.items():
        assert abs(got_fp[v] - rank[i]) < 1e-6, (v, got_fp[v], rank[i])


def test_bilinear_resize_is_identity_when_image_fits(spark):
    """The fixed-point bilinear kernel must be a no-op when the image
    already fits the target box: half-pixel mapping with tw == w gives
    fx == 0 at integer positions, so out == src exactly."""
    import numpy as np
    import pandas as pd

    from updatable_persistent_map_reduce_spark.operators.multimodal import (
        _RESIZE_T,
        _bilinear_resize_batch,
    )

    w, h = _RESIZE_T, _RESIZE_T - 2
    src = bytes((3 * i + 1) % 256 for i in range(w * h))
    pdf = pd.DataFrame(
        {
            "doc_id": [1],
            "width": pd.Series([w], dtype="int32"),
            "height": pd.Series([h], dtype="int32"),
            "payload": [src],
        }
    )
    [out] = _bilinear_resize_batch(iter([pdf]))
    r = out.iloc[0]
    assert (r.target_w, r.target_h) == (w, h)
    arr = np.frombuffer(src, dtype=np.uint8).astype(np.int64)
    assert r.px_sum == int(arr.sum())
    assert r.px_wsum == int((arr * (np.arange(arr.size) + 1)).sum())


def test_mm_resize_real_decode(spark):
    """Production PIL resize kernel — runs whenever the environment
    gains image codecs (skip-marked otherwise): generates real PNGs,
    drives the same mapInPandas plan as q_mm_resize, and checks the
    aspect-preserving geometry against PIL's own ground truth."""
    import pytest

    from updatable_persistent_map_reduce_spark.operators.multimodal import (
        HAS_PIL,
        mm_resize_real,
    )

    if not HAS_PIL:
        pytest.skip("PIL not installed in this container")
    import io

    from PIL import Image

    def png(w, h, color):
        buf = io.BytesIO()
        Image.new("RGB", (w, h), color).save(buf, format="PNG")
        return buf.getvalue()

    rows = [
        (1, png(640, 480, (10, 20, 30))),   # downscale, width-bound
        (2, png(100, 300, (200, 0, 0))),    # downscale, height-bound
        (3, png(50, 40, (0, 0, 0))),        # already fits: scale 1.0
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {r.doc_id: r for r in mm_resize_real(df).collect()}
    assert (out[1].target_w, out[1].target_h) == (224, 168)
    assert (out[2].target_w, out[2].target_h) == (74, 224)
    assert (out[3].target_w, out[3].target_h, out[3].scale) == (50, 40, 1.0)


def test_cc_path_graph_log_rounds(spark):
    """Pointer-jumping connected components on a 100-node PATH graph —
    the chain-shaped worst case where plain min-label propagation needs
    diameter rounds (100 > the 25-round cap) and would either be
    silently wrong or raise. Pointer jumping must converge in O(log
    diameter) (~7-8 rounds here, well under 25) and label every node
    with the path's minimum id."""
    from updatable_persistent_map_reduce_spark.operators.dedup import (
        connected_components,
    )

    n = 100
    nodes = spark.createDataFrame([(i,) for i in range(n)], "vec_id long")
    # path 0-1-2-...-99 plus a separate 3-node triangle and a singleton
    pairs = (
        [(i, i + 1) for i in range(n - 1)]
        + [(200, 201), (201, 202), (200, 202)]
    )
    nodes = nodes.union(
        spark.createDataFrame(
            [(200,), (201,), (202,), (300,)], "vec_id long"
        )
    )
    edges = spark.createDataFrame(pairs, "va long, vb long")
    got = {
        r.vec_id: r.cluster_id
        for r in connected_components(nodes, edges).collect()
    }
    assert all(got[i] == 0 for i in range(n)), "path not fully merged"
    assert got[200] == got[201] == got[202] == 200
    assert got[300] == 300


def test_ivf_index_upsert_and_pruned_probe(spark, tmp_path):
    """Persisted IVF index lifecycle: build, probe, incrementally
    upsert new vectors, probe again — and verify the probe's scan is
    MANIFEST-PRUNED to the probed cells' files only."""
    import numpy as np
    from pyspark.sql import functions as F

    from updatable_persistent_map_reduce_spark.plans.ann_index import IvfIndex

    dim, n = 8, 64
    rng = np.random.RandomState(7)
    vecs = rng.randn(n, dim).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    idx = IvfIndex(spark, str(tmp_path / "ivf"), n_cells=4)
    idx.build(df)

    q = [(0, [float(x) for x in vecs[0]])]
    # exact mode finds the vector's true neighbors
    exact = idx.search(q, k=5, nprobe=4).collect()
    assert len(exact) == 5 and all(r.query_id == 0 for r in exact)

    # incremental upsert: a new vector equal to vecs[0] must become
    # the top hit (cos ~ 1.0) after append, without any rebuild
    new = spark.createDataFrame(
        [(1000, [float(x) for x in vecs[0]])],
        "vec_id long, embedding array<float>",
    )
    v0 = idx._listed.version
    idx.upsert(new)
    assert idx._listed.version == v0 + 1  # atomic snapshot advanced
    top = idx.search(q, k=1, nprobe=4).collect()[0]
    assert top.vec_id == 1000 and top.cos_sim >= 0.999999

    # pruned probe: nprobe=1 must plan a scan over ONLY that cell's
    # manifest files
    cents = idx.centroids()
    qv = np.array(q[0][1]) / np.linalg.norm(q[0][1])
    cell = int(np.argmax(qv @ cents.T))
    listed_one = idx._listed.read(spark, spans=[cell])
    allowed = set(listed_one.inputFiles())
    pruned = idx.search(q, k=3, nprobe=1)
    # walk the probe plan's scanned files
    scanned = set()
    for f in pruned.inputFiles():
        scanned.add(f)
    assert scanned and scanned <= allowed, (scanned, allowed)


def test_ivf_partial_nprobe_recall_floor(spark, tmp_path):
    """Partial-probe recall pinned on a planted corpus: nprobe <
    n_cells is the only mode a 100 TB deployment actually runs, so
    exactness at full probe is not enough evidence. 2000 vectors in 8
    well-separated Gaussian blobs, 20 queries planted as tiny
    perturbations of corpus vectors; at nprobe=2 of 8 cells the index
    must (a) return the planted source as the top hit for nearly every
    query and (b) keep recall@10 vs numpy brute force above a measured
    floor, while (c) full probe stays exact."""
    import numpy as np

    from updatable_persistent_map_reduce_spark.plans.ann_index import IvfIndex

    dim, n_clusters, per = 16, 8, 250
    rng = np.random.RandomState(11)
    centers = rng.randn(n_clusters, dim) * 5.0
    raw = np.vstack(
        [centers[c] + rng.randn(per, dim) for c in range(n_clusters)]
    )
    # random id order so the k-means seeds (first n_cells ids) span
    # clusters instead of all landing in blob 0
    vecs = raw[rng.permutation(len(raw))].astype("float32")
    n = len(vecs)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    idx = IvfIndex(spark, str(tmp_path / "ivf"), n_cells=n_clusters)
    idx.build(df, kmeans_iters=3)

    n_q, k = 20, 10
    planted = rng.choice(n, n_q, replace=False)
    queries = [
        (10_000 + j, [float(x) for x in vecs[src] + 0.01 * rng.randn(dim)])
        for j, src in enumerate(planted)
    ]
    # numpy brute-force ground truth (same float32 values the engine
    # scores)
    corpus = vecs.astype("float64")
    corpus /= np.linalg.norm(corpus, axis=1, keepdims=True)
    qmat = np.array(
        [np.array(v, dtype="float32") for _, v in queries], dtype="float64"
    )
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    sims = qmat @ corpus.T
    truth = {
        queries[j][0]: set(np.argsort(-sims[j])[:k].tolist())
        for j in range(n_q)
    }

    got: dict[int, list[int]] = {q: [] for q, _ in queries}
    top1: dict[int, int] = {}
    for r in idx.search(queries, k=k, nprobe=2).collect():
        got[r.query_id].append(r.vec_id)
        # use the returned rank column, not collect() row order (which
        # only incidentally follows the window sort today)
        if r.rnk == 1:
            top1[r.query_id] = r.vec_id
    recall = sum(
        len(set(g) & truth[q]) / k for q, g in got.items()
    ) / n_q
    top1_hits = sum(
        1 for j, (q, _) in enumerate(queries) if top1.get(q) == planted[j]
    )
    # measured 1.0/20 on this seed; floors leave margin for float
    # near-ties, not for regressions
    assert recall >= 0.9, f"recall@{k} at nprobe=2 fell to {recall}"
    assert top1_hits >= 18, f"planted top-1 only {top1_hits}/20"

    # full probe is exact
    full: dict[int, set[int]] = {q: set() for q, _ in queries}
    for r in idx.search(queries, k=k, nprobe=n_clusters).collect():
        full[r.query_id].add(r.vec_id)
    exact = sum(len(full[q] & truth[q]) / k for q, _ in queries) / n_q
    assert exact >= 0.99, exact


def test_ivf_rebuild_recovers_recall_after_drift(spark, tmp_path):
    """Centroid drift and its repair, end to end: build on 8 blobs,
    append 4x as many vectors from 8 NEW wide blobs the old centroids
    never saw (sigma 3.5 vs the originals' 1.0, so drifted
    neighborhoods straddle several old cell boundaries and a 2-cell
    probe misses a chunk of each query's neighbors), show recall@10 at
    nprobe=2 degrades, rebuild(), show it recovers above the pinned
    floor — while full probe stays exact throughout (the probe set is
    a recall choice, scoring is exact). Construction chosen by numpy
    simulation: tight drifted blobs do NOT degrade partial-probe
    recall, because assignment and probe share the same centroids and
    a tight neighborhood lands in the query's own top cells — the
    failure mode needs local neighborhoods wider than the stale cell
    structure."""
    import numpy as np

    from updatable_persistent_map_reduce_spark.plans.ann_index import IvfIndex

    dim, n_clusters, per = 16, 8, 100
    rng = np.random.RandomState(23)
    centers = rng.randn(n_clusters, dim) * 5.0
    raw = np.vstack(
        [centers[c] + rng.randn(per, dim) for c in range(n_clusters)]
    )
    base = raw[rng.permutation(len(raw))].astype("float32")
    n0 = len(base)
    df = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(n0)],
        "vec_id long, embedding array<float>",
    )
    idx = IvfIndex(spark, str(tmp_path / "ivf_drift"), n_cells=n_clusters)
    idx.build(df, kmeans_iters=3)

    # drifted appends: 8 new wide blobs at fresh random centers, 4x
    # the original corpus size (simulated: before ~0.85, after ~1.0)
    new_centers = rng.randn(n_clusters, dim) * 5.0
    drift = np.vstack(
        [nc + 3.5 * rng.randn(4 * per, dim) for nc in new_centers]
    ).astype("float32")
    nd = len(drift)
    assert nd == 4 * n0
    idx.upsert(
        spark.createDataFrame(
            [(n0 + i, [float(x) for x in drift[i]]) for i in range(nd)],
            "vec_id long, embedding array<float>",
        )
    )

    # queries: perturbations of drifted vectors; numpy ground truth
    n_q, k = 20, 10
    corpus = np.vstack([base, drift]).astype("float64")
    corpus /= np.linalg.norm(corpus, axis=1, keepdims=True)
    picked = rng.choice(nd, n_q, replace=False)
    queries = [
        (10_000 + j,
         [float(x) for x in drift[src] + 0.01 * rng.randn(dim)])
        for j, src in enumerate(picked)
    ]
    qmat = np.array(
        [np.array(v, dtype="float32") for _, v in queries], dtype="float64"
    )
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    sims = qmat @ corpus.T
    truth = {
        queries[j][0]: set(np.argsort(-sims[j])[:k].tolist())
        for j in range(n_q)
    }

    def recall(nprobe: int) -> float:
        got: dict[int, set[int]] = {q: set() for q, _ in queries}
        for r in idx.search(queries, k=k, nprobe=nprobe).collect():
            got[r.query_id].add(r.vec_id)
        return sum(len(g & truth[q]) / k for q, g in got.items()) / n_q

    before = recall(2)
    assert recall(n_clusters) >= 0.99  # full probe exact even drifted

    v_before = idx._listed.version
    stats = idx.rebuild(kmeans_iters=3)
    assert stats["version"] == v_before + 1  # one pinned commit
    after = recall(2)
    # measured on this seed (engine run): before ~0.85, after ~1.0;
    # floors leave margin for float near-ties, not regressions
    assert before < 0.92, f"drift did not degrade recall: {before}"
    assert after >= 0.95, f"rebuild recall@10 at nprobe=2 only {after}"
    assert after > before + 0.04, (before, after)
    assert recall(n_clusters) >= 0.99  # still exact at full probe
    # pre-rebuild snapshot stays time-travelable
    old = idx._listed.read(spark, version=v_before)
    assert old.count() == n0 + nd


def test_inverted_index_empty_returns_empty_not_div0(spark, tmp_path):
    """BM25 over an empty index returns an empty frame — never a
    ZeroDivisionError from avgdl = total_dl / n_docs."""
    from updatable_persistent_map_reduce_spark.plans.text_index import (
        InvertedIndex,
    )

    idx = InvertedIndex(spark, str(tmp_path / "inv0"), n_spans=4)
    idx.build(spark.createDataFrame([], "doc_id long, text string"))
    out = idx.bm25(["anything"]).collect()
    assert out == []


def test_term_spans_match_the_postings_span_expression(spark, tmp_path):
    """bm25 hashes its query terms to postings spans on the driver; each
    term's span must equal the Spark expression the postings are
    written with (pmod(xxhash64(token), n_spans)) — non-ASCII and empty
    terms included — and computing them launches no Spark job."""
    from pyspark.sql import functions as F

    from updatable_persistent_map_reduce_spark.plans.text_index import (
        InvertedIndex,
    )

    terms = ["join", "window", "hash", "café", "日本語", "", "naïve-term"]
    idx = InvertedIndex(spark, str(tmp_path / "inv"), n_spans=32)
    want = {
        r.token: r.span
        for r in spark.createDataFrame([(t,) for t in terms], "token string")
        .select(
            "token",
            F.pmod(F.xxhash64("token"), F.lit(32)).cast("int").alias("span"),
        )
        .collect()
    }
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    got = {t: idx._term_spans([t]) for t in terms}
    assert max(tracker.getJobIdsForGroup(None), default=-1) == before
    assert got == {t: [want[t]] for t in terms}
    assert idx._term_spans(terms) == sorted(set(want.values()))


def test_inverted_index_upsert_and_pruned_scan(spark, tmp_path):
    """Persisted inverted-index lifecycle: build, score, incrementally
    append a new document, score again — and verify the query scan is
    manifest-pruned to the query terms' spans."""
    from pyspark.sql import functions as F

    from updatable_persistent_map_reduce_spark.plans.text_index import (
        InvertedIndex,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark join window hash join"),
            (2, "window sort filter"),
            (3, "totally unrelated words here"),
        ],
        "doc_id long, text string",
    )
    idx = InvertedIndex(spark, str(tmp_path / "inv"), n_spans=8)
    idx.build(docs)
    base = {r.doc_id: r.score for r in idx.bm25(["join", "window", "hash"]).collect()}
    assert set(base) == {1, 2}  # doc 3 matches nothing
    assert base[1] > base[2]  # doc 1 hits all three terms

    # incremental append: a new doc stuffed with the query terms must
    # outrank everything, and corpus stats must have merged
    s0 = idx.stats()
    idx.upsert(
        spark.createDataFrame(
            [(99, "join join window hash")], "doc_id long, text string"
        )
    )
    s1 = idx.stats()
    assert s1["n_docs"] == s0["n_docs"] + 1
    top = idx.bm25(["join", "window", "hash"], k=1).collect()[0]
    assert top.doc_id == 99

    # pruned scan: the query plan reads only the terms' spans' files
    spans = idx._term_spans(["join", "window", "hash"])
    allowed = set(idx._post.read(spark, spans=spans).inputFiles())
    scanned = set(idx.bm25(["join", "window", "hash"]).inputFiles())
    assert scanned and scanned <= allowed


def test_inverted_index_replaces_doc_latest_wins(spark, tmp_path):
    """Revising a document through upsert() must stop its OLD postings
    from scoring (the reference's latest-wins contract,
    Executer.cs:240-261, applied to the serving index): a doc revised
    to drop the query terms disappears from the result, corpus stats
    track the dl delta, and compact() physically removes the dead
    generations without changing any score."""
    from updatable_persistent_map_reduce_spark.plans.text_index import (
        InvertedIndex,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark join window hash join"),
            (2, "window sort filter"),
            (3, "totally unrelated words here"),
        ],
        "doc_id long, text string",
    )
    idx = InvertedIndex(spark, str(tmp_path / "inv"), n_spans=8)
    idx.build(docs)
    assert {r.doc_id for r in idx.bm25(["join", "window", "hash"]).collect()} == {1, 2}

    # revise doc 1 to drop every query term: latest wins, so it must
    # stop scoring even though its old postings files still exist
    idx.upsert(
        spark.createDataFrame(
            [(1, "nothing relevant anymore")], "doc_id long, text string"
        )
    )
    s = idx.stats()
    assert s["n_docs"] == 3  # replacement, not growth
    assert {r.doc_id for r in idx.bm25(["join", "window", "hash"]).collect()} == {2}
    # the incremental scalars must equal an exact recompute
    assert idx.refresh_stats() == s

    # revise doc 2 to hit the terms HARDER; same id must re-rank, once
    idx.upsert(
        spark.createDataFrame(
            [(2, "join join join window hash")], "doc_id long, text string"
        )
    )
    after = {r.doc_id: r.score for r in idx.bm25(["join", "window", "hash"]).collect()}
    assert set(after) == {2}

    # compaction folds the delete vectors into the files: identical
    # scores, empty replaced table, fewer live generations on disk
    idx.compact()
    compacted = {
        r.doc_id: r.score for r in idx.bm25(["join", "window", "hash"]).collect()
    }
    assert compacted == after
    assert idx._repl.read(spark) is None
    post = idx._post.read(spark)
    assert post.filter("doc_id = 2").select("gen").distinct().count() == 1


def test_inverted_index_auto_compact_keeps_read_cost_flat(spark, tmp_path):
    """60 single-doc revision batches against a live index: without a
    compaction cadence the postings table gains one file per touched
    span per batch and the replaced set grows with every revision —
    read cost O(revisions). With the view-style trigger
    (auto_compact_files_per_span) the file count must stay under a
    FLAT bound across all 60 batches, compactions must actually fire
    (file counts drop), the replaced set stays bounded by the trigger
    window, and the final scores equal a fresh index built from the
    final corpus state."""
    from updatable_persistent_map_reduce_spark.plans.text_index import (
        InvertedIndex,
    )

    vocab = ["join", "window", "hash", "sort", "filter", "scan"]
    state = {
        d: f"{vocab[d % 6]} {vocab[(d + 1) % 6]} base text {d}"
        for d in range(1, 7)
    }
    idx = InvertedIndex(
        spark,
        str(tmp_path / "invac"),
        n_spans=4,
        n_doc_spans=2,
        auto_compact_files_per_span=4,
    )
    idx.build(
        spark.createDataFrame(
            [(d, t) for d, t in state.items()], "doc_id long, text string"
        )
    )

    def n_post_files() -> int:
        return sum(len(v) for v in idx._post.spans().values())

    history = [n_post_files()]
    for i in range(60):
        d = 1 + (i % 6)
        state[d] = f"{vocab[i % 6]} {vocab[(i + 2) % 6]} rev {i} doc {d}"
        idx.upsert(
            spark.createDataFrame(
                [(d, state[d])], "doc_id long, text string"
            )
        )
        history.append(n_post_files())

    k, n_spans = 4, 4
    # flat bound: the trigger fires at >= k files/span average, so the
    # count can never exceed the threshold plus one batch's appends
    assert max(history) <= k * n_spans + n_spans, history
    # compactions genuinely fired: appends only grow the count, so any
    # drop in the series is a compaction
    assert any(b < a for a, b in zip(history, history[1:])), history
    # replaced set bounded by the trigger window, not by 60 revisions
    tomb = idx._repl.read(spark)
    assert (tomb.count() if tomb is not None else 0) < 20
    # scoring identical to a fresh build of the final state
    fresh = InvertedIndex(
        spark, str(tmp_path / "invfresh"), n_spans=4, n_doc_spans=2
    )
    fresh.build(
        spark.createDataFrame(
            [(d, t) for d, t in state.items()], "doc_id long, text string"
        )
    )
    terms = ["join", "window", "hash"]
    got = {(r.doc_id, r.score) for r in idx.bm25(terms).collect()}
    want = {(r.doc_id, r.score) for r in fresh.bm25(terms).collect()}
    assert got == want


def test_inverted_index_within_batch_duplicates(spark, tmp_path):
    """One batch containing two revisions of the same doc: with a
    seq_col the highest sequence wins (the view engine's contract);
    without one, conflicting texts RAISE instead of landing both
    generations at once (which used to double doc_index rows, merge
    tf across revisions, and overcount n_docs). Identical duplicate
    rows collapse silently."""
    import pytest as _pytest

    from updatable_persistent_map_reduce_spark.plans.text_index import (
        InvertedIndex,
    )

    idx = InvertedIndex(spark, str(tmp_path / "inv"), n_spans=8)
    idx.build(
        spark.createDataFrame(
            [(1, "base words only")], "doc_id long, text string"
        )
    )

    # seq_col: highest sequence wins within the batch
    idx.upsert(
        spark.createDataFrame(
            [(2, "join join window", 1), (2, "join window hash", 2)],
            "doc_id long, text string, seq long",
        ),
        seq_col="seq",
    )
    assert idx.stats()["n_docs"] == 2
    assert {r.doc_id for r in idx.bm25(["hash"]).collect()} == {2}

    # unsequenced conflicting duplicates: loud failure, index unchanged
    with _pytest.raises(ValueError, match="conflicting"):
        idx.upsert(
            spark.createDataFrame(
                [(3, "alpha"), (3, "beta")], "doc_id long, text string"
            )
        )
    assert idx.stats()["n_docs"] == 2
    assert idx.refresh_stats() == {"n_docs": 2, "total_dl": 6}

    # identical duplicate rows collapse silently
    idx.upsert(
        spark.createDataFrame(
            [(3, "gamma delta"), (3, "gamma delta")],
            "doc_id long, text string",
        )
    )
    assert idx.refresh_stats()["n_docs"] == 3


def test_edge_lsh_geometry_scales():
    """Corpus-scaled LSH geometry: buckets track corpus size (bounded
    per-bucket membership => candidate emission LINEAR in n, never
    n²/constant-buckets), table count always pins the qualifying-pair
    miss probability under the target, and the small-corpus geometry
    equals the round-3 static (plane=4, table=16) configuration that
    the driver attested."""
    import math

    from updatable_persistent_map_reduce_spark.operators.dedup import (
        EDGE_MISS_TARGET,
        EDGE_TARGET_BUCKET,
        edge_lsh_geometry,
    )

    # attested small-corpus geometry unchanged
    assert edge_lsh_geometry(500) == (4, 16)
    assert edge_lsh_geometry(2000) == (4, 16)

    p = 1.0 - math.acos(0.9) / math.pi
    prev_planes = 0
    for n in (500, 2000, 10_000, 100_000, 1_000_000, 10_000_000):
        planes, tables = edge_lsh_geometry(n)
        # monotone plane growth, bounded expected bucket membership
        assert planes >= prev_planes
        prev_planes = planes
        if planes < 16:  # below the plane cap the bucket bound holds
            assert n / (2**planes) <= 2 * EDGE_TARGET_BUCKET
        # recall pinned: miss probability under target
        assert (1.0 - p**planes) ** tables <= EDGE_MISS_TARGET


def test_pack_tokens_invariants(spark, sf_dir):
    """Packing invariants the oracle's equality can't articulate on
    its own terms: within every shard, each sequence holds EXACTLY the
    256-token budget except the single ragged tail, and the shard's
    token total equals the sum of its documents' token counts — no
    token lost or double-counted across sequence boundaries."""
    from pyspark.sql import functions as F

    from updatable_persistent_map_reduce_spark.functions.text import (
        tokens_expr,
    )
    from updatable_persistent_map_reduce_spark.operators import all_queries
    from updatable_persistent_map_reduce_spark.operators.pipeline import (
        _PACK_BUDGET,
        _PACK_SHARDS,
    )
    from updatable_persistent_map_reduce_spark.sources import Catalog

    rows = all_queries()["q_pack_tokens"].fn(spark, sf_dir).collect()
    by_shard: dict[int, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert by_shard
    for shard, rs in by_shard.items():
        tail = max(r["seq_id"] for r in rs)
        for r in rs:
            if r["seq_id"] == tail:
                assert 1 <= r["n_tokens"] <= _PACK_BUDGET, r
            else:
                assert r["n_tokens"] == _PACK_BUDGET, r
    want = {
        r["shard"]: r["total"]
        for r in Catalog(spark, sf_dir)
        .documents.select(
            (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
            F.size(tokens_expr(F.col("text"))).alias("dl"),
        )
        .filter(F.col("dl") > 0)
        .groupBy("shard")
        .agg(F.sum("dl").alias("total"))
        .collect()
    }
    got = {s: sum(r["n_tokens"] for r in rs) for s, rs in by_shard.items()}
    assert got == want


def test_ivfpq_adc_probe_cost_and_recall(spark, tmp_path):
    """IVF-PQ lifecycle on planted blobs: (a) full-probe/full-rerank
    equals numpy brute force (the registered q_sim_index_pq config);
    (b) the production config (nprobe=2, rerank=50) holds a pinned
    recall floor; (c) last_probe pins the span economics — codes read
    only from the probed cells, full vectors only from the survivors'
    cells — and the plan's input files stay inside those spans."""
    import numpy as np

    from updatable_persistent_map_reduce_spark.plans.ann_index import (
        IvfPqIndex,
    )

    dim, n_clusters, per = 16, 8, 250
    rng = np.random.RandomState(11)
    centers = rng.randn(n_clusters, dim) * 5.0
    raw = np.vstack(
        [centers[c] + rng.randn(per, dim) for c in range(n_clusters)]
    )
    vecs = raw[rng.permutation(len(raw))].astype("float32")
    n = len(vecs)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    idx = IvfPqIndex(spark, str(tmp_path / "ivfpq"), n_cells=n_clusters)
    idx.build(df, kmeans_iters=3)

    n_q, k = 20, 10
    planted = rng.choice(n, n_q, replace=False)
    queries = [
        (10_000 + j, [float(x) for x in vecs[src] + 0.01 * rng.randn(dim)])
        for j, src in enumerate(planted)
    ]
    corpus = vecs.astype("float64")
    corpus /= np.linalg.norm(corpus, axis=1, keepdims=True)
    qmat = np.array(
        [np.array(v, dtype="float32") for _, v in queries], dtype="float64"
    )
    qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
    sims = qmat @ corpus.T
    truth = {
        queries[j][0]: set(np.argsort(-sims[j])[:k].tolist())
        for j in range(n_q)
    }

    # (a) exact config: every cell probed, every candidate re-ranked
    full: dict[int, set[int]] = {q: set() for q, _ in queries}
    for r in idx.search_pq(queries, k=k, nprobe=n_clusters, rerank=None).collect():
        full[r.query_id].add(r.vec_id)
    exact = sum(len(full[q] & truth[q]) / k for q, _ in queries) / n_q
    assert exact >= 0.99, exact

    # (b) production config: ADC over 2 cells' codes, top-150 of the
    # ~500 candidates re-ranked exactly. The measured rerank curve on
    # this seed (numpy-replicated bit-for-bit): 50 -> 0.685,
    # 100 -> 0.830, 150 -> 0.965, 200 -> 1.000 — the classic PQ
    # recall/read trade; floors sit under the curve, not on it.
    def run(rr):
        got: dict[int, set[int]] = {q: set() for q, _ in queries}
        res = idx.search_pq(queries, k=k, nprobe=2, rerank=rr)
        for r in res.collect():
            got[r.query_id].add(r.vec_id)
        return (
            sum(len(got[q] & truth[q]) / k for q, _ in queries) / n_q,
            res,
        )

    recall_low, _ = run(50)
    assert recall_low >= 0.6, f"recall@{k} at rerank=50: {recall_low}"
    recall, res = run(150)
    assert recall >= 0.9, f"recall@{k} at nprobe=2/rerank=150: {recall}"
    assert recall >= recall_low, "deeper re-rank must not lose recall"

    # (c) span economics, pinned by last_probe and the plan's files
    p = idx.last_probe
    assert p is not None
    assert 0 < p["code_spans_read"] <= min(2 * n_q, n_clusters)
    assert p["code_spans_total"] == len(idx._codes.spans())
    assert p["vector_spans_read"] <= p["code_spans_read"]
    # recompute the probed cells the way the index does, then require
    # every scanned file — codes AND full vectors — to come from those
    # cells' manifest files only (survivor cells are a subset of the
    # probed cells)
    cents = idx.centroids()
    probe = np.argsort(-(qmat @ cents.T), axis=1)[:, :2]
    probed_cells = sorted({int(c) for row in probe for c in row})
    assert p["code_spans_read"] == len(probed_cells)
    allowed = set(
        idx._codes.read(spark, spans=probed_cells).inputFiles()
    ) | set(idx._listed.read(spark, spans=probed_cells).inputFiles())
    scanned = set(res.inputFiles())
    assert scanned and scanned <= allowed, (scanned - allowed)


def test_ivfpq_upsert_appends_both_tiers(spark, tmp_path):
    """IvfPqIndex.upsert must land the new vectors in BOTH tables:
    the inherited listed-only append would leave them invisible to
    ADC candidate generation. An appended duplicate of a corpus
    vector must surface as the probe's top hit (cos ~ 1.0) even at
    rerank=1, and both manifests must have advanced atomically."""
    import numpy as np

    from updatable_persistent_map_reduce_spark.plans.ann_index import (
        IvfPqIndex,
    )

    dim, n = 16, 200
    rng = np.random.RandomState(3)
    vecs = rng.randn(n, dim).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    idx = IvfPqIndex(spark, str(tmp_path / "ivfpq_up"), n_cells=4)
    idx.build(df)
    v_listed, v_codes = idx._listed.version, idx._codes.version
    new = spark.createDataFrame(
        [(5000, [float(x) for x in vecs[7]])],
        "vec_id long, embedding array<float>",
    )
    idx.upsert(new)
    assert idx._listed.version == v_listed + 1
    assert idx._codes.version == v_codes + 1
    q = [(7, [float(x) for x in vecs[7]])]
    hits = idx.search_pq(q, k=1, nprobe=idx.n_cells, rerank=1).collect()
    assert len(hits) == 1 and hits[0].vec_id == 5000, hits
    assert hits[0].cos_sim >= 0.999999


def test_ivfpq_delete_excludes_then_compact_materializes(spark, tmp_path):
    """The index DELETE lifecycle (r10 — the store's MoR tombstone
    pattern applied to vector ids in BOTH tiers): delete -> the probe
    excludes the ids with ZERO data files rewritten and unchanged
    probe cost; compact -> tombstones materialize (manifest 'deletes'
    cleared, rows physically gone) and the probe answer is unchanged."""
    import numpy as np

    from updatable_persistent_map_reduce_spark.plans.ann_index import (
        IvfPqIndex,
    )

    dim, n = 16, 200
    rng = np.random.RandomState(3)
    vecs = rng.randn(n, dim).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    idx = IvfPqIndex(spark, str(tmp_path / "ivfpq_del"), n_cells=4)
    idx.build(df)
    q = [(9999, [float(x) for x in vecs[7]])]
    before = idx.search_pq(q, k=5, nprobe=idx.n_cells, rerank=n).collect()
    assert before[0].vec_id == 7  # the vector itself is the top hit
    probe_before = dict(idx.last_probe)

    files_listed = idx._listed.select_files()
    files_codes = idx._codes.select_files()
    victims = spark.createDataFrame(
        [(7, [float(x) for x in vecs[7]]), (int(before[1].vec_id),
          [float(x) for x in vecs[int(before[1].vec_id)]])],
        "vec_id long, embedding array<float>",
    )
    idx.delete(victims)
    # MoR: zero data files rewritten in either tier
    assert idx._listed.select_files() == files_listed
    assert idx._codes.select_files() == files_codes

    after = idx.search_pq(q, k=5, nprobe=idx.n_cells, rerank=n).collect()
    gone = {7, int(before[1].vec_id)}
    assert not gone & {r.vec_id for r in after}, after
    # survivors keep their relative order from the pre-delete answer
    kept_before = [r.vec_id for r in before if r.vec_id not in gone]
    assert [r.vec_id for r in after[: len(kept_before)]] == kept_before
    # probe cost unchanged: tombstones don't change span pruning
    assert dict(idx.last_probe) == probe_before

    res = idx.compact()
    assert "deletes" not in idx._codes._load()
    assert "deletes" not in idx._listed._load()
    assert res["codes"]["spans_compacted"] > 0
    assert res["listed"]["spans_compacted"] > 0
    final = idx.search_pq(q, k=5, nprobe=idx.n_cells, rerank=n).collect()
    assert [(r.vec_id, r.cos_sim) for r in final] == [
        (r.vec_id, r.cos_sim) for r in after
    ]
    # the rows are physically gone, not just hidden
    assert idx._listed.read(spark).filter("vec_id = 7").count() == 0
    assert idx._codes.read(spark).filter("vec_id = 7").count() == 0
