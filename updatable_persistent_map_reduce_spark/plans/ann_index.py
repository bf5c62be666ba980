"""Persisted IVF ANN index — the similarity family as a STORE artifact.

`q_sim_search_ivf` rebuilds its k-means cells on every call; a
deployment builds the index ONCE and probes it many times. `IvfIndex`
does exactly that with the engine's own storage machinery:

- **centroids**: KB-sized driver state, saved as JSON next to the data;
- **listed vectors**: one :class:`ManifestTable` with ``cell`` as the
  span column — every vector lands in its nearest cell's files, so a
  probe of ``nprobe`` cells resolves (driver-side, manifest-only) to
  exactly those cells' files and scans nothing else. This is the same
  span pruning the incremental view uses for dirty-pair reads, applied
  to vector search: at 100 TB a probe touches corpus·(nprobe/cells)
  bytes, and the manifest lookup costs no listing or footer reads.
- **incremental upsert**: new vectors are assigned to cells and
  APPENDED to the manifest (atomic snapshot swap, crash-safe like
  every other table) — the index stays serviceable during growth, and
  `compact()`-style maintenance is the store's normal file folding.
  Centroids drift as the corpus grows; :meth:`IvfIndex.rebuild` refits
  them from the live table and re-spans it in one pinned commit,
  exactly like the view's `rescale()` — tested by planting drifted
  appends, watching partial-nprobe recall decay, and pinning its
  recovery after rebuild (tests/test_llm_ops.py).

Correctness: with ``nprobe >= n_cells`` the probe covers every cell, so
search is EXACT brute force — the registered `q_sim_index_persisted`
runs in that mode and shares `q_sim_search`'s SQL oracle; recall-vs-
cost at partial nprobe is measured by `tools/scale_ann.py`.

Reference tie-in: the reference persists intermediate aggregation
state so queries never recompute (Executer.cs:165-203, 370-376); this
is the same materialize-once-serve-many contract for vector search.
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine_expr
from .store import ManifestTable
from .view import (
    _plan_width,
    maint_small_side,
    maintained,
    maintenance_n,
    maintenance_scope,
)


class IvfIndex:
    def __init__(self, spark: SparkSession, path: str, n_cells: int = 16):
        self.spark = spark
        self.path = path
        self.n_cells = n_cells
        self._listed = ManifestTable(os.path.join(path, "listed"), "cell")
        self._centroid_path = os.path.join(path, "centroids.json")
        self._centroids: np.ndarray | None = None

    # ----- build / maintain ------------------------------------------------

    def _maint_n(self, batch: DataFrame | None = None) -> int:
        """Partition sizing for @maintained entry points: batch scan
        width + this index's table bytes (driver-side metadata).
        IvfPqIndex inherits and adds its codes table."""
        tables = [self._listed] + (
            [self._codes] if hasattr(self, "_codes") else []
        )
        return maintenance_n(
            _plan_width(batch) if batch is not None else None, *tables
        )

    @maintained
    def build(self, e: DataFrame, kmeans_iters: int = 2) -> None:
        """Fit centroids on ``e`` (vec_id, embedding) and write the
        cell-listed table in one job; atomic manifest publish."""
        from ..operators.similarity import fit_kmeans, make_assign_udf

        centroids = fit_kmeans(
            self.spark, e, n_cells=self.n_cells, iters=kmeans_iters
        )
        os.makedirs(self.path, exist_ok=True)
        with open(self._centroid_path, "w") as f:
            json.dump(centroids.tolist(), f)
        self._centroids = centroids
        listed = e.select(
            "vec_id",
            "embedding",
            make_assign_udf(self.spark, centroids)("embedding").alias("cell"),
        )
        mapping = self._listed.write_data(listed)
        self._listed.commit(replace_all=mapping)

    @maintained
    def upsert(self, new_vectors: DataFrame) -> None:
        """Assign new (vec_id, embedding) rows to their nearest
        existing cells and APPEND — an incremental index update with
        the store's normal crash-safe snapshot swap. (Latest-wins
        replacement of an existing vec_id would route through a
        doc-index exactly like the view's; growth-only here.)"""
        from ..operators.similarity import make_assign_udf

        assigned = new_vectors.select(
            "vec_id",
            "embedding",
            make_assign_udf(self.spark, self.centroids())("embedding").alias(
                "cell"
            ),
        )
        mapping = self._listed.write_data(assigned)
        # store.append_materializing: a delete() never blocks ingest —
        # tombstoned cells the new rows land in are compacted first,
        # and if an upserted vec_id is tombstoned ANYWHERE (e.g. a
        # deleted vector re-upserted with a re-embedded vector that
        # assigns to a DIFFERENT cell), every tombstoned cell is
        # materialized so the key-global read anti-join cannot hide
        # the new live row
        self._listed.append_materializing(
            self.spark, mapping, keys=assigned.select("vec_id")
        )

    @maintained
    def delete(self, vectors: DataFrame) -> None:
        """MERGE-ON-READ delete of vectors from the index — the store's
        tombstone pattern (q_store_delete_vectors, incremental.py)
        applied to vector ids: record (cell, vec_id) TOMBSTONE files
        and commit; zero data files rewritten, probes exclude the ids
        at read time via the manifest's tombstone anti-join, and
        :meth:`compact` later MATERIALIZES the deletes (rewrites the
        affected cells minus the rows, clears tombstones). ``vectors``
        must carry (vec_id, embedding): the cell is recomputed with the
        SAME assignment function build/upsert used, so no scan is
        needed to locate the span — correct whenever the table's spans
        were assigned under the current centroids (always, outside
        rebuild()'s documented crash window, which a re-run heals).
        The reference's delete-and-reschedule contract
        (Executer.cs:240-261) applied to ANN: deletion invalidates
        exactly the affected spans' serving state, nothing else."""
        from ..operators.similarity import make_assign_udf

        keys = vectors.select(
            make_assign_udf(self.spark, self.centroids())(
                "embedding"
            ).alias("cell"),
            "vec_id",
        )
        self._listed.delete_keys(keys, on=["vec_id"])

    @maintained
    def compact(self, min_files: int = 1) -> dict:
        """Materialize tombstones / fold small files in the listed
        tier — the store's normal maintenance, exposed on the index."""
        return self._listed.compact(self.spark, min_files=min_files)

    def vacuum(self, keep_versions: int = 0) -> int:
        """Reclaim unreferenced files and bound the manifest archive —
        erasure's final step (see text_index.vacuum)."""
        return self._listed.vacuum(keep_versions=keep_versions)

    def rebuild(self, kmeans_iters: int = 2) -> dict:
        """Refit centroids on the CURRENT corpus and re-span the listed
        table under them — the maintenance step for centroid drift.

        After heavy :meth:`upsert` growth the stored centroids describe
        the corpus the index was BUILT on, not the one it serves:
        appended vectors pile into whichever old cell is nearest, cells
        go unbalanced, and partial-``nprobe`` recall decays (full probe
        stays exact regardless — it scans every cell). Rebuild is the
        view's ``rescale()`` applied to vector search: one k-means
        refit over the live table, one write job re-assigning every
        vector to its new cell, one pinned ``replace_all`` commit
        (OCC: a concurrent upsert makes this raise
        :class:`~.store.ConcurrentCommitError` rather than silently
        dropping its rows — wrap in :func:`~.store.retry_commit` to
        coexist with ingest). The pre-rebuild snapshot stays
        time-travelable like any other commit.

        Centroids are published (atomic ``os.replace``) only AFTER the
        table commit lands, so a crash mid-rebuild leaves the old
        index fully intact; a crash in the tiny window between commit
        and centroid publish leaves new spans probed by old centroids —
        degraded partial-probe recall, never wrong results (the probe
        set is a recall choice; scoring is exact), and re-running
        ``rebuild()`` heals it. Returns ``{version, cells}``.
        """
        from ..operators.similarity import fit_kmeans, make_assign_udf

        base_v = self._listed.version
        cur = self._listed.read(self.spark)
        if cur is None:
            raise ValueError(
                f"rebuild of never-built/empty index at {self.path}"
            )
        e = cur.select("vec_id", "embedding")
        centroids = fit_kmeans(
            self.spark, e, n_cells=self.n_cells, iters=kmeans_iters
        )
        listed = e.select(
            "vec_id",
            "embedding",
            make_assign_udf(self.spark, centroids)("embedding").alias(
                "cell"
            ),
        )
        mapping = self._listed.write_data(listed)
        version = self._listed.commit(
            replace_all=mapping, base_version=base_v
        )
        tmp = self._centroid_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(centroids.tolist(), f)
        os.replace(tmp, self._centroid_path)
        self._centroids = centroids
        return {"version": version, "cells": len(mapping)}

    def centroids(self) -> np.ndarray:
        if self._centroids is None:
            with open(self._centroid_path) as f:
                self._centroids = np.array(json.load(f), dtype=np.float64)
        return self._centroids

    # ----- serve -----------------------------------------------------------

    def search(
        self,
        queries: list[tuple[int, list[float]]],
        k: int = 10,
        nprobe: int = 4,
    ) -> DataFrame:
        """Top-k cosine per query over the probed cells only. The cell
        selection is numpy over KB driver state; the scan is manifest-
        pruned to the probed cells' files; scoring is the same codegen
        cosine + per-query window as the brute-force baseline.
        ``nprobe >= n_cells`` probes everything — exact search.

        Returns the lazy serving plan (broadcast probe frame, cell
        equi-join, per-query top-k window): its scan is the probed
        cells' manifest-resolved files, so ``inputFiles()`` attests the
        pruning. There is no internal collect, so no maintenance scope
        is involved and the plan runs under the session's full AQE
        configuration."""
        cents = self.centroids()
        qmat = np.array([v for _, v in queries], dtype=np.float64)
        qmat /= np.linalg.norm(qmat, axis=1, keepdims=True)
        nprobe = min(nprobe, self.n_cells)
        probe = np.argsort(-(qmat @ cents.T), axis=1)[:, :nprobe]
        cells = sorted({int(c) for row in probe for c in row})
        listed = self._listed.read(self.spark, spans=cells)
        if listed is None:
            return self.spark.createDataFrame(
                [], "query_id long, vec_id long, cos_sim double, rnk int"
            )
        probes = self.spark.createDataFrame(
            [
                (int(qid), [float(x) for x in vec], int(c))
                for (qid, vec), row in zip(queries, probe)
                for c in row
            ],
            "query_id long, qe array<float>, cell int",
        )
        scored = (
            listed.join(F.broadcast(probes), "cell")
            .filter(F.col("vec_id") != F.col("query_id"))
            .dropDuplicates(["query_id", "vec_id"])
            .select(
                "query_id",
                "vec_id",
                F.round(
                    cosine_expr(F.col("qe"), F.col("embedding")), 6
                ).alias("cos_sim"),
            )
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("vec_id")
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "vec_id", "cos_sim", "rnk")
        )


_PQ_QSCALE = 1024  # fixed-point scale for normalized-domain PQ codes


class IvfPqIndex(IvfIndex):
    """IVF-PQ (Jegou et al., "Product Quantization for Nearest
    Neighbor Search") — the actual 100 TB vector-serving architecture:
    the coarse IVF cells bound WHICH vectors a probe considers, and a
    PQ-compressed payload bounds WHAT the probe reads per candidate.

    Two cell-spanned tables share the coarse quantizer:

    - ``listed`` (inherited): full vectors — the exact re-rank tier;
    - ``codes``: (vec_id, cell, pq_code) — ~16 bits per vector, the
      ADC scan tier. At 100 TB of float32 the codes table is ~1/256
      of the corpus bytes, so a probe's candidate-generation scan is
      per-cell AND per-byte cheap; only the ``rerank`` survivors'
      full vectors are read.

    PQ codes live in the NORMALIZED domain (x/||x|| scaled by
    ``_PQ_QSCALE`` fixed-point): for unit vectors ||a-b||^2 =
    2 - 2*cos(a,b), so integer-L2 ADC ranks candidates by cosine —
    the metric the re-rank and the oracle use (raw-domain codes
    measured recall@10 = 0.41-0.63 on the blob corpus; this form's
    rerank curve is 0.685/0.830/0.965/1.000 at 50/100/150/200 —
    pinned in tests). Codebooks are TRAINED the way production PQ
    trains them — per-subspace Lloyd on a bounded deterministic
    sample (the lowest ``train_n`` vec_ids, numpy on KB driver state,
    seeds = the sample's first ``ksub`` sub-vectors) with centroids
    rounded to integers, so encode, LUT, and ADC all stay exact
    integer arithmetic (q_embed_pq's integer-exactness discipline,
    applied to the serving index).

    Probe = Asymmetric Distance Computation: the query is NOT
    quantized; per (query, subspace, centroid) the squared-L2 table
    entry is an integer computed driver-side (m*ksub entries, KB
    state) and shipped in the broadcast probe frame as an
    ``array<long>`` literal, so the per-candidate ADC sum is pure
    whole-stage codegen: ``element_at(lut, m*ksub + ((pq_code >>
    bits*m) & mask) + 1)`` summed over m — no Python, no shuffle
    beyond the cell equi-join. ``rerank=None`` re-ranks every probed
    candidate with exact cosine (with nprobe = n_cells that is EXACT
    search — the registered q_sim_index_pq runs there and shares
    q_sim_search's oracle); ``rerank=C`` keeps only the ADC-top-C per
    query for the full-vector read, the production trade measured in
    tests (recall) and pinned in ``last_probe`` (span reads).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_cells: int = 16,
        m: int = 8,
        ksub: int = 16,
        train_n: int = 512,
    ):
        super().__init__(spark, path, n_cells)
        self.m = m
        self.ksub = ksub
        self.train_n = train_n
        self.bits = (ksub - 1).bit_length()
        self._codes = ManifestTable(os.path.join(path, "codes"), "cell")
        self._pq_path = os.path.join(path, "pq.json")
        self._pq: tuple[float, list] | None = None
        self.last_probe: dict[str, int] | None = None

    # ----- build -----------------------------------------------------------

    @maintained
    def build(self, e: DataFrame, kmeans_iters: int = 2) -> None:
        """Coarse build (centroids + full-vector cells) plus the PQ
        payload: fit the global scale and codebooks, encode every
        vector in-plan (pure codegen, one scan), land the codes table
        cell-spanned under its own atomic manifest."""
        from ..operators.similarity import make_assign_udf

        super().build(e, kmeans_iters)
        # Codes live in the NORMALIZED domain: for unit vectors
        # ||a-b||^2 = 2 - 2*cos(a,b), so integer L2 ADC ranks by
        # cosine — encoding raw vectors instead measured recall@10 =
        # 0.63 (L2-of-raw disagrees with the cosine truth the re-rank
        # and oracle use). _PQ_QSCALE fixed-point keeps everything
        # integer-exact.
        norm = F.sqrt(
            F.aggregate(
                F.transform(
                    "embedding",
                    lambda x: x.cast("double") * x.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        code_expr = F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double")
                / F.greatest(F.col("_nrm"), F.lit(1e-30))
                * F.lit(float(_PQ_QSCALE))
                + F.lit(0.5)
            ).cast("long"),
        )
        codes = e.withColumn("_nrm", norm).select(
            "vec_id", "embedding", code_expr.alias("code")
        )
        # Per-subspace Lloyd on a bounded deterministic sample (the
        # standard PQ training recipe — production trains on a sample,
        # never the corpus): integer centroids keep every downstream
        # op (encode distances, ADC LUTs) exact integer arithmetic.
        sample = codes.orderBy("vec_id").limit(self.train_n).collect()
        dim = len(sample[0]["code"])
        if dim % self.m:
            raise ValueError(f"dim {dim} not divisible into {self.m} subspaces")
        dsub = dim // self.m
        smat = np.array([s["code"] for s in sample], dtype=np.int64)
        books = []
        for mi in range(self.m):
            sub = smat[:, mi * dsub : (mi + 1) * dsub].astype(np.float64)
            cents = sub[: self.ksub].copy()
            for _ in range(8):
                d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
                assign = d.argmin(axis=1)
                for kk in range(self.ksub):
                    pts = sub[assign == kk]
                    if len(pts):
                        cents[kk] = pts.mean(axis=0)
            books.append(
                [[int(v) for v in np.floor(c + 0.5)] for c in cents]
            )
        tmp = self._pq_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"qscale": _PQ_QSCALE, "codebooks": books}, f)
        os.replace(tmp, self._pq_path)
        self._pq = (_PQ_QSCALE, books)

        self._codes.commit(
            replace_all=self._codes.write_data(self._encode_plan(e))
        )

    def _encode_plan(self, e: DataFrame) -> DataFrame:
        """(vec_id, cell, pq_code) for ``e`` under the STORED codebooks
        and coarse centroids — pure codegen encode + one Arrow assign;
        shared by build() and upsert()."""
        from ..operators.similarity import make_assign_udf

        qscale, books = self._load_pq()
        dsub = len(books[0][0])
        norm = F.sqrt(
            F.aggregate(
                F.transform(
                    "embedding",
                    lambda x: x.cast("double") * x.cast("double"),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        code_expr = F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double")
                / F.greatest(F.col("_nrm"), F.lit(1e-30))
                * F.lit(float(qscale))
                + F.lit(0.5)
            ).cast("long"),
        )
        codes = e.withColumn("_nrm", norm).select(
            "vec_id", "embedding", code_expr.alias("code")
        )
        sq_l2 = lambda a, b: F.aggregate(  # noqa: E731
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        pq_code = F.lit(0).cast("long")
        for mi in range(self.m):
            sub = F.slice("code", mi * dsub + 1, dsub)
            dists = F.array(
                *[
                    sq_l2(sub, F.array(*[F.lit(v) for v in book]))
                    for book in books[mi]
                ]
            )
            kidx = (F.array_position(dists, F.array_min(dists)) - 1).cast(
                "long"
            )
            pq_code = pq_code + kidx * F.lit(
                1 << (self.bits * mi)
            ).cast("long")
        return codes.select(
            "vec_id",
            make_assign_udf(self.spark, self.centroids())("embedding").alias(
                "cell"
            ),
            pq_code.alias("pq_code"),
        )

    @maintained
    def upsert(self, new_vectors: DataFrame) -> None:
        """Incremental append to BOTH tiers — the inherited listed-only
        append would leave the new vectors invisible to ADC probes
        (candidates come from the codes table). Order: full vectors
        first, codes second, so a crash between the commits leaves a
        vector unreachable-but-rerankable rather than discoverable-
        but-unverifiable (the neardup index's shingles-first rule).
        New vectors are encoded under the EXISTING codebooks and
        coarse centroids; codebook drift is rebuild()'s concern, same
        as centroid drift."""
        super().upsert(new_vectors)
        self._codes.append_materializing(
            self.spark,
            self._codes.write_data(self._encode_plan(new_vectors)),
            keys=new_vectors.select("vec_id"),
        )

    @maintained
    def delete(self, vectors: DataFrame) -> None:
        """Tombstone the vec_ids in BOTH tiers. Codes first: ADC
        candidates come from the codes table, so a crash between the
        two commits leaves the vector UNDISCOVERABLE-but-still-stored
        (consistent with delete intent and healed by re-running the
        delete) rather than discoverable with a missing re-rank row —
        the mirror of upsert's vectors-first ordering."""
        from ..operators.similarity import make_assign_udf

        keys = vectors.select(
            make_assign_udf(self.spark, self.centroids())(
                "embedding"
            ).alias("cell"),
            "vec_id",
        )
        self._codes.delete_keys(keys, on=["vec_id"])
        self._listed.delete_keys(keys, on=["vec_id"])

    @maintained
    def compact(self, min_files: int = 1) -> dict:
        """Materialize tombstones in both tiers (codes then listed)."""
        codes = self._codes.compact(self.spark, min_files=min_files)
        listed = self._listed.compact(self.spark, min_files=min_files)
        return {"codes": codes, "listed": listed}

    def vacuum(self, keep_versions: int = 0) -> int:
        """Both tiers — see IvfIndex.vacuum."""
        return self._codes.vacuum(
            keep_versions=keep_versions
        ) + self._listed.vacuum(keep_versions=keep_versions)

    def _load_pq(self) -> tuple[int, list]:
        if self._pq is None:
            with open(self._pq_path) as f:
                d = json.load(f)
            self._pq = (d["qscale"], d["codebooks"])
        return self._pq

    # ----- serve -----------------------------------------------------------

    def search_pq(
        self,
        queries: list[tuple[int, list[float]]],
        k: int = 10,
        nprobe: int = 4,
        rerank: int | None = None,
    ) -> DataFrame:
        """ADC probe: scan only the probed cells' CODES spans, score
        every candidate with the integer lookup-table sum in codegen,
        optionally keep the ADC-top-``rerank`` per query, then read
        only the survivors' cells from the full-vector table for the
        exact cosine top-k. ``last_probe`` records the span pruning
        both reads achieved.

        Only the bounded survivor-cell collect runs under a derived
        maintenance scope sized from the index's table bytes (a big
        index leaves the session untouched: shrink-only). The returned
        lazy plan is built outside it with a broadcast probe frame, so
        a shrunken scope's shuffle-hash hint never leaks into it."""
        qscale, books = self._load_pq()
        cents = self.centroids()
        qmat = np.array([v for _, v in queries], dtype=np.float64)
        qn = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
        nprobe = min(nprobe, self.n_cells)
        probe = np.argsort(-(qn @ cents.T), axis=1)[:, :nprobe]
        cells = sorted({int(c) for row in probe for c in row})
        # all four keys up front: the empty-codes early return below
        # must still leave a complete last_probe (a caller reading
        # vector_spans_read after an empty probe got a KeyError)
        self.last_probe = {
            "code_spans_read": len(cells),
            "code_spans_total": len(self._codes.spans()),
            "vector_spans_read": 0,
            "vector_spans_total": len(self._listed.spans()),
        }
        codes = self._codes.read(self.spark, spans=cells)
        empty = self.spark.createDataFrame(
            [], "query_id long, vec_id long, cos_sim double, rnk int"
        )
        if codes is None:
            return empty
        # per-query integer ADC tables: entry m*ksub+kk = ||q_sub_m -
        # codebook[m][kk]||^2 on the SAME global-scale integer codes
        dsub = len(books[0][0])
        luts = []
        for qv in qn:  # normalized-domain codes, like the corpus side
            qc = np.floor(qv * qscale + 0.5).astype(np.int64)
            lut = [
                int(((qc[mi * dsub : (mi + 1) * dsub] - np.array(bk)) ** 2).sum())
                for mi in range(self.m)
                for bk in books[mi]
            ]
            luts.append(lut)
        probes = self.spark.createDataFrame(
            [
                (int(qid), [float(x) for x in vec], lut, int(c))
                for (qid, vec), lut, row in zip(queries, luts, probe)
                for c in row
            ],
            "query_id long, qe array<float>, lut array<long>, cell int",
        )
        mask = self.ksub - 1
        adc = F.lit(0).cast("long")
        for mi in range(self.m):
            sub_code = (
                F.shiftright("pq_code", self.bits * mi).bitwiseAND(mask)
            ).cast("int")
            adc = adc + F.element_at(
                "lut", sub_code + F.lit(mi * self.ksub + 1)
            )

        def candidates(probe_side: DataFrame) -> DataFrame:
            cand = (
                codes.join(probe_side, "cell")
                .filter(F.col("vec_id") != F.col("query_id"))
                .dropDuplicates(["query_id", "vec_id"])
                .select("query_id", "qe", "vec_id", "cell", adc.alias("adc"))
            )
            if rerank is not None:
                wa = W.partitionBy("query_id").orderBy("adc", "vec_id")
                cand = (
                    cand.withColumn("arnk", F.row_number().over(wa))
                    .filter(F.col("arnk") <= rerank)
                    .drop("arnk")
                )
            return cand

        # bounded collect (<= n_cells ints): which cells hold the
        # survivors — the full-vector read is span-pruned to those
        with maintenance_scope(
            self.spark, maintenance_n(None, self._codes, self._listed)
        ):
            rr_cells = sorted(
                r[0]
                for r in candidates(maint_small_side(probes))
                .select("cell")
                .distinct()
                .collect()
            )
        self.last_probe["vector_spans_read"] = len(rr_cells)
        self.last_probe["vector_spans_total"] = len(self._listed.spans())
        if not rr_cells:
            return empty
        cand = candidates(F.broadcast(probes))
        vecs = self._listed.read(self.spark, spans=rr_cells)
        scored = cand.join(
            vecs.select("vec_id", "embedding"), "vec_id"
        ).select(
            "query_id",
            "vec_id",
            F.round(cosine_expr(F.col("qe"), F.col("embedding")), 6).alias(
                "cos_sim"
            ),
        )
        w = W.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("vec_id")
        )
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("query_id", "vec_id", "cos_sim", "rnk")
        )
