"""Persisted MinHash band index — near-dup detection as a STORE
artifact.

`q_dedup_near` recomputes signatures for the whole corpus per run; an
ingest pipeline asks a different question: "is anything in THIS BATCH
a near-dup of the 100 TB corpus?" — and cannot afford a corpus scan
per batch. `NearDupIndex` persists the LSH banding once with the
engine's storage machinery (the same pattern `plans/text_index.py`
proves for BM25 postings and `plans/ann_index.py` for IVF cells — the
reference's materialize-once-serve-many contract,
Executer.cs:165-203, 370-376, applied to the band-bucket table):

- **bands**: one :class:`ManifestTable` of (doc_id, sz, band, sig)
  rows, span column ``bspan`` = pmod(xxhash64(band, sig), n_spans) —
  an incoming batch's own band signatures hash to a bounded span set,
  so candidate generation reads ONLY those spans' files (manifest
  span pruning; `probe()` records the pruning it achieved in
  ``last_probe`` so tests can pin it). Candidates come from an
  equi-join on (band, sig), NEVER a bucket collect — so there is no
  silent bucket cap anywhere in this path: a degenerate signature
  shows up as join fan-out (visible cost), not dropped pairs (silent
  recall loss).
- **shingles**: (doc_id, sz, shingles) clustered by doc-hash span
  ``dspan`` — the exact-verification payload. Probes join candidate
  corpus doc_ids back to ONLY their dspans' files, so the expensive
  shingle arrays are read for candidates, not the corpus.
- **append**: new documents land as two atomic commits, SHINGLES
  FIRST then bands — a probe can only discover a candidate after its
  verification payload exists, so a crash between the commits leaves
  the half-appended doc invisible-but-registered (loud: re-appending
  the same id raises) rather than discoverable-but-unverifiable
  (silent pair loss). The index is append-only by contract: an id
  that already exists raises (revision semantics live in the view
  engine — q_dedup_incremental; this is the serving artifact).
- **probe**: signature the batch (one Arrow pass), equi-join its band
  rows against the probed spans, LOSSLESS integer length-filter
  (2*min(sz) >= max(sz) is necessary for J >= 1/2), then exact
  integer shingle Jaccard (2*inter >= union) on the joined-back
  arrays. Banding is the attested 16x1 configuration q_dedup_near
  promoted to oracle-exactness (escape probability (1-J)^16 per true
  pair, empirically zero at gate corpora; every candidate is
  exact-verified so false positives are impossible).

At 100 TB: the band table is 16 rows of a few bytes per doc —
~1/1000th of corpus text; a B-doc batch probe reads
min(B*16, n_spans)/n_spans of it plus the candidates' shingle spans,
and all joins are equi-joins on (band, sig) / doc-hash. Scale knobs:
n_spans (per-probe read fraction), n_doc_spans, and the banding
geometry itself (production 8x2 trades recall certainty for smaller
buckets exactly as q_dedup_near documents).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import ManifestTable
from .view import index_session, maintained, on_session


class NearDupIndex:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_perm: int = 16,
        n_bands: int = 16,
        n_spans: int = 64,
        n_doc_spans: int = 16,
    ):
        if n_perm % n_bands:
            raise ValueError("n_perm must divide into n_bands")
        self.spark = spark
        self.path = path
        self.n_perm = n_perm
        self.n_bands = n_bands
        self.rows_per_band = n_perm // n_bands
        self.n_spans = n_spans
        self.n_doc_spans = n_doc_spans
        self._bands = ManifestTable(os.path.join(path, "bands"), "bspan")
        self._sh = ManifestTable(os.path.join(path, "shingles"), "dspan")
        # probe-cost attestation: set by probe() to the span pruning
        # actually achieved, e.g. {"band_spans_read": 7,
        # "band_spans_total": 64, ...}
        self.last_probe: dict[str, int] | None = None

    # ----- signature plumbing (shared math with operators/dedup) ----------

    def _sig_frame(self, docs: DataFrame) -> DataFrame:
        """(doc_id, sz, shingles, mh) — same Arrow kernel as
        q_dedup_near, so index and one-shot agree bit-for-bit."""
        from ..operators.dedup import _shingle_minhash_udf

        return (
            docs.select(
                "doc_id", _shingle_minhash_udf(self.n_perm)("text").alias("sm")
            )
            .select(
                "doc_id",
                F.size("sm.shingles").alias("sz"),
                F.col("sm.shingles").alias("shingles"),
                F.col("sm.mh").alias("mh"),
            )
            .filter(F.col("sz") > 0)
        )

    def _band_rows(self, sigs: DataFrame) -> DataFrame:
        r = self.rows_per_band
        if r == 1:
            # r = 1: the signature IS the single minhash — store the
            # LONG (8-byte postings + codegen join keys), mirroring
            # operators/dedup._near_dup_scored's representation
            sig_for = lambda b: F.col("mh").getItem(b)  # noqa: E731
        else:
            sig_for = lambda b: F.concat_ws(  # noqa: E731
                ":",
                *[F.col("mh").getItem(b * r + i) for i in range(r)],
            )
        return (
            sigs.select(
                "doc_id",
                "sz",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(b).alias("band"),
                                sig_for(b).alias("sig"),
                            )
                            for b in range(self.n_bands)
                        ]
                    )
                ).alias("bs"),
            )
            .select("doc_id", "sz", "bs.band", "bs.sig")
            .withColumn(
                "bspan",
                F.pmod(F.xxhash64("band", "sig"), F.lit(self.n_spans)).cast(
                    "int"
                ),
            )
        )

    def _dspan(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_doc_spans)).cast("int")

    def _shingle_rows(self, sigs: DataFrame) -> DataFrame:
        return sigs.select(
            "doc_id", "sz", "shingles", self._dspan(F.col("doc_id")).alias("dspan")
        )

    # ----- build / append ---------------------------------------------------

    @maintained
    def build(self, spark: SparkSession, docs: DataFrame) -> None:
        """Signature ``docs`` (doc_id, text) once; land band postings
        bucketed by (band, sig)-hash span and shingle payloads by
        doc-hash span. Atomic publish per table, shingles first."""
        sigs = self._sig_frame(docs).persist()
        try:
            self._sh.commit(
                replace_all=self._sh.write_data(self._shingle_rows(sigs))
            )
            self._bands.commit(
                replace_all=self._bands.write_data(self._band_rows(sigs))
            )
        finally:
            sigs.unpersist()

    @maintained
    def append(self, spark: SparkSession, docs: DataFrame) -> None:
        """Append NEW documents: signatures land under atomic manifest
        snapshots (shingles first — see module docstring for the
        crash ordering argument). Incremental cost is O(batch): the
        duplicate-id guard reads only the batch's own doc spans.
        Raises on an id that already exists (append-only contract)."""
        sigs = self._sig_frame(docs).persist()
        try:
            batch_dspans = sorted(
                r[0]
                for r in sigs.select(self._dspan(F.col("doc_id")))
                .distinct()
                .collect()
            )
            existing = self._sh.read(spark, spans=batch_dspans)
            if existing is not None:
                hit = (
                    sigs.join(
                        existing.select("doc_id"), "doc_id", "left_semi"
                    )
                    .limit(1)
                    .collect()
                )
                if hit:
                    raise ValueError(
                        f"doc_id {hit[0]['doc_id']} already indexed at "
                        f"{self.path}: NearDupIndex is append-only "
                        "(revisions belong to the view engine)"
                    )
            # MINOR COMPACTION on demand (store.append_materializing):
            # a takedown must never block ingest, so each tier's
            # append materializes the pending tombstones it makes
            # unsafe — the spans its own rows land in (the store's
            # append-reject rule), plus ALL tombstoned spans whenever
            # a batch id is tombstoned anywhere (tombstones apply
            # key-globally at read, so a stale one in another span
            # would hide the re-appended doc's live rows). Data files
            # are written before the compactions but stay invisible
            # until their append commits; the intermediate states a
            # crash can leave are the compactions' own committed
            # snapshots (pure materialization — query-invisible) and
            # the shingles-committed/bands-pending window, which is
            # the module docstring's invisible-but-registered state.
            sh_map = self._sh.write_data(self._shingle_rows(sigs))
            band_map = self._bands.write_data(self._band_rows(sigs))
            ids = sigs.select("doc_id")
            self._sh.append_materializing(spark, sh_map, keys=ids)
            self._bands.append_materializing(spark, band_map, keys=ids)
        finally:
            sigs.unpersist()

    @maintained
    def delete(self, spark: SparkSession, docs: DataFrame) -> None:
        """TAKEDOWN: remove documents (doc_id, text) from the band
        index — the ANN index's MoR tombstone pattern (plans/
        ann_index.py delete()) applied to LSH postings. Signatures are
        RECOMPUTED with the same Arrow kernel build/append used, so
        the tombstones land in exactly the band-hash spans the doc's
        rows live in — no scan to locate them (the assign-function
        trick AnnIndex.delete documents); probes exclude the ids at
        read time via the manifest tombstone anti-join, and
        ``compact()`` materializes. SHINGLE TIER FIRST: the delete's
        crash-ordering mirror of append's shingles-first rule — after
        a crash between the two commits the doc's band rows are still
        discoverable but its verification payload is already gone, so
        a probe's exact-verify join drops every candidate pair
        involving it: the doc is out of RESULTS the moment the first
        commit lands, never half-deleted in what a probe returns.
        Ids never indexed (or with empty shingle sets, or already
        taken down) contribute no tombstones — the batch is first
        semi-joined against the LIVE shingle rows of its own doc
        spans, so a replayed takedown is an exact no-op and a
        never-indexed id can never acquire a tombstone that would
        make its future first append() spuriously raise. ``docs``
        must carry the text AS INDEXED (the takedown artifact IS the
        indexed document — revisions belong to the view engine): the
        shingle tombstone's span is doc-keyed, so the doc leaves
        probe RESULTS regardless (a candidate without its
        verification payload can never be emitted), but a REVISED
        text's band tombstones would hash to the wrong spans and
        leave the indexed band rows behind as dead candidates —
        wasted probe fan-out until a compact of their spans, not a
        correctness hole. Cost: O(deleted docs x bands) tombstone
        rows."""
        sigs = self._sig_frame(docs).persist()
        try:
            dspans = sorted(
                r[0]
                for r in sigs.select(self._dspan(F.col("doc_id")))
                .distinct()
                .collect()
            )
            if not dspans:
                return
            live = self._sh.read(spark, spans=dspans)
            if live is None:
                return
            sigs_live = sigs.join(
                live.select("doc_id"), "doc_id", "left_semi"
            ).persist()
            try:
                if not sigs_live.limit(1).collect():
                    return
                sh_keys = sigs_live.select(
                    self._dspan(F.col("doc_id")).alias("dspan"), "doc_id"
                )
                band_keys = (
                    self._band_rows(sigs_live)
                    .select("bspan", "doc_id")
                    .distinct()
                )
                self._sh.delete_keys(sh_keys, on=["doc_id"])
                self._bands.delete_keys(band_keys, on=["doc_id"])
            finally:
                sigs_live.unpersist()
        finally:
            sigs.unpersist()

    @maintained
    def compact(self, spark: SparkSession, min_files: int = 1) -> dict:
        """Materialize pending takedown tombstones / fold small files
        in both tiers — the store's normal maintenance, exposed on the
        index (the ann_index pattern). Returns per-tier stats."""
        return {
            "shingles": self._sh.compact(spark, min_files=min_files),
            "bands": self._bands.compact(spark, min_files=min_files),
        }

    def vacuum(self, keep_versions: int = 0) -> int:
        """Reclaim unreferenced files and bound the manifest archive in
        both tiers — erasure's final step (see text_index.vacuum)."""
        return sum(
            t.vacuum(keep_versions=keep_versions)
            for t in (self._sh, self._bands)
        )

    # ----- probe --------------------------------------------------------------

    def probe(self, batch: DataFrame) -> DataFrame:
        """Near-dup pairs (doc_a = batch, doc_b = corpus, jaccard_bp)
        at exact integer Jaccard >= 1/2, reading ONLY the batch's band
        signatures' spans plus the candidates' shingle spans. The
        returned plan holds fixed file lists (ManifestTable.read), so
        concurrent appends never shift what a probe sees.

        The two bounded span-discovery collects (the batch's band
        spans, the candidates' shingle spans) run on a maintenance
        session sized from the batch width + the index's table bytes;
        a big batch over a big index keeps the caller's session
        (maintenance_session only shrinks), the 100 TB path. The
        returned lazy plan stays on the caller's session and runs
        under its full AQE configuration."""
        sigs = self._sig_frame(batch).persist()
        bands_b = self._band_rows(sigs).persist()
        empty = self.spark.createDataFrame(
            [], "doc_a long, doc_b long, jaccard_bp long"
        )
        ms = index_session(self, batch)
        try:
            probe_spans = sorted(
                r[0]
                for r in on_session(bands_b, ms)
                .select("bspan")
                .distinct()
                .collect()
            )
            n_total = len(self._bands.spans())
            self.last_probe = {
                "band_spans_read": len(probe_spans),
                "band_spans_total": n_total,
            }
            corpus_bands = self._bands.read(self.spark, spans=probe_spans)
            if corpus_bands is None:
                return empty
            cand = (
                bands_b.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("sz").alias("sz_a"),
                    "band",
                    "sig",
                )
                .join(
                    corpus_bands.select(
                        F.col("doc_id").alias("doc_b"),
                        F.col("sz").alias("sz_b"),
                        "band",
                        "sig",
                    ),
                    ["band", "sig"],
                )
                .filter(F.col("doc_a") != F.col("doc_b"))
                # lossless for J >= 1/2: |∩|/|∪| <= min/max
                .filter(
                    F.least("sz_a", "sz_b") * 2 >= F.greatest("sz_a", "sz_b")
                )
                .select("doc_a", "doc_b")
                .dropDuplicates(["doc_a", "doc_b"])
            )
            cand_dspans = sorted(
                r[0]
                for r in on_session(cand, ms)
                .select(self._dspan(F.col("doc_b")))
                .distinct()
                .collect()
            )
            self.last_probe["shingle_spans_read"] = len(cand_dspans)
            self.last_probe["shingle_spans_total"] = len(self._sh.spans())
            if not cand_dspans:
                return empty
            sh_c = self._sh.read(self.spark, spans=cand_dspans)
            if sh_c is None:
                return empty
            scored = (
                cand.join(
                    sigs.select(
                        F.col("doc_id").alias("doc_a"),
                        F.col("shingles").alias("sh_a"),
                    ),
                    "doc_a",
                )
                .join(
                    sh_c.select(
                        F.col("doc_id").alias("doc_b"),
                        F.col("shingles").alias("sh_b"),
                    ),
                    "doc_b",
                )
                .select(
                    "doc_a",
                    "doc_b",
                    F.size(F.array_intersect("sh_a", "sh_b"))
                    .cast("long")
                    .alias("inter"),
                    F.size(F.array_union("sh_a", "sh_b"))
                    .cast("long")
                    .alias("uni"),
                )
            )
            return scored.filter(2 * F.col("inter") >= F.col("uni")).select(
                "doc_a",
                "doc_b",
                F.expr("inter * 10000L DIV uni").alias("jaccard_bp"),
            )
        finally:
            # The persist covered probe's own driver-side span
            # discovery (two distinct-collects over the batch
            # signatures). Unpersisting does NOT invalidate the
            # returned lazy plan — executing it recomputes the
            # batch-sized signature pass once, which beats pinning
            # executor memory per probe or collecting the result
            # through the driver.
            bands_b.unpersist()
            sigs.unpersist()
