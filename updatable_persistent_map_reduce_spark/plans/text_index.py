"""Persisted inverted text index — BM25 serving as a STORE artifact.

`q_bm25` re-tokenizes the corpus per query; a serving deployment
builds postings ONCE and scores queries against them. `InvertedIndex`
does that with the engine's storage machinery:

- **postings**: one :class:`ManifestTable` of (token, doc_id, tf, dl,
  gen) rows, span column = ``tspan`` = pmod(xxhash64(token), n_spans)
  — a query's terms hash to a handful of spans, so scoring reads ONLY
  those spans' files (manifest span pruning applied to text
  retrieval; the reference's FinalResults-point-read contract,
  Executer.cs:370-376, for search). Document frequency is computed
  from the probed postings at query time, so it is always consistent
  with the files actually read.
- **doc_index**: (doc_id, dl, gen) clustered by doc-hash span
  (``dspan``) — the write-side probe that makes upserts latest-wins
  (the view's doc_index role, the reference's Executer.cs:240-261
  semantics applied to the index): an incoming batch reads only its
  own doc spans' files to learn which ids already exist and at what
  generation.
- **replaced**: (doc_id, live_gen) for docs that have EVER been
  replaced — a merge-on-read delete vector (the Iceberg/Delta
  pattern). Scoring left-joins the probed postings against this
  (small, broadcast) set and keeps a row iff its doc was never
  replaced or its ``gen`` IS the live generation, so a revised doc's
  old postings can never score. ``compact()`` folds the dead rows out
  of the postings files and empties this table.
- **corpus stats**: (n_docs, total_dl) as driver-side JSON — the BM25
  scalars; replacement adjusts them by (new dl - old dl), so avgdl
  tracks revisions, not just growth.
- **incremental upsert**: brand-new documents' postings APPEND under
  an atomic manifest snapshot; replacements additionally CoW-rewrite
  the replaced ids' doc_index/replaced spans. Commit order is
  replaced -> doc_index -> postings -> stats: a crash mid-upsert can
  briefly hide the in-flight doc (delete-then-insert), but can never
  double-score it — the delete vector closes the old generation
  before anything new lands, and the doc_index entry precedes the
  postings so a retry always sees the crashed attempt as a
  replacement and kills its generation too. Re-running the same
  upsert therefore converges; the only crash residue is a bounded
  drift in the incremental (n_docs, total_dl) scalars, which
  ``refresh_stats()`` recomputes exactly from the doc_index.

At 100 TB: postings are the corpus's dominated-by-explode table —
written once, bucketed by term-hash span; a Q-term query scans
corpus·(Q/n_spans) worth of postings bytes, and scoring is one
partial+final aggregate plus a top-k, never a corpus scan. The
replaced set is O(revised docs since last compact) — broadcast-sized
under any sane compaction cadence, and ``compact()`` is one
distributed filter-rewrite job when it isn't.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens_expr
from .store import ManifestTable
from .view import maint_small_side, maintained

K1 = 1.2
B = 0.75


class InvertedIndex:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_spans: int = 32,
        n_doc_spans: int = 16,
        auto_compact_files_per_span: int | None = 16,
    ):
        self.spark = spark
        self.path = path
        self.n_spans = n_spans
        self.n_doc_spans = n_doc_spans
        # Self-compaction threshold (the view's trigger applied to the
        # serving index): every upsert appends one postings file per
        # touched term span and grows the replaced set by its revised
        # ids, so WITHOUT a cadence both read costs creep with
        # revision count — O(files) footer opens and an O(revisions)
        # broadcast anti-join. When the postings table averages this
        # many files per span, upsert() triggers compact(), which
        # folds dead generations out and empties the replaced set in
        # one rewrite. The trigger reads ONLY the manifest (no Spark
        # job). None disables (manual cadence).
        self.auto_compact_files_per_span = auto_compact_files_per_span
        self._post = ManifestTable(os.path.join(path, "postings"), "tspan")
        self._docs = ManifestTable(os.path.join(path, "doc_index"), "dspan")
        self._repl = ManifestTable(os.path.join(path, "replaced"), "dspan")
        self._stats_path = os.path.join(path, "stats.json")

    # ----- build / maintain ------------------------------------------------

    def _dspan(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_doc_spans)).cast("int")

    def _tokenized(self, docs: DataFrame) -> DataFrame:
        """(doc_id, dl, toks) — tokenization happens HERE, once; both
        the postings and the doc-index rows derive from this frame, so
        callers persist it and each upsert pays one tokenize pass (it
        used to run three times: doc-index write, stats aggregate,
        postings write)."""
        return docs.select(
            "doc_id", tokens_expr(F.col("text")).alias("toks")
        ).select("doc_id", F.size("toks").alias("dl"), "toks")

    def _postings(self, toks: DataFrame, gen: int) -> DataFrame:
        return (
            toks.select("doc_id", "dl", F.explode("toks").alias("token"))
            .groupBy("token", "doc_id", "dl")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn("gen", F.lit(gen).cast("long"))
            .withColumn(
                "tspan",
                F.pmod(F.xxhash64("token"), F.lit(self.n_spans)).cast("int"),
            )
        )

    def _doc_rows(self, toks: DataFrame, gen: int) -> DataFrame:
        return toks.select(
            "doc_id",
            "dl",
            F.lit(gen).cast("long").alias("gen"),
            self._dspan(F.col("doc_id")).alias("dspan"),
        )

    def _resolve_batch(
        self, docs: DataFrame, seq_col: str | None
    ) -> DataFrame:
        """One row per doc_id WITHIN a batch. With ``seq_col``, the
        highest sequence wins (the view engine's contract). Without
        one, identical duplicate rows collapse silently, but
        CONFLICTING revisions of one doc in a single unsequenced batch
        raise — an arbitrary winner would silently violate the
        latest-wins contract the index exists to uphold (and before
        this guard, such a batch landed BOTH revisions under one
        generation: doubled doc_index rows, merged tf, inflated
        n_docs)."""
        if seq_col is not None:
            from pyspark.sql import Window as W

            return (
                docs.withColumn(
                    "_rn",
                    F.row_number().over(
                        W.partitionBy("doc_id").orderBy(F.col(seq_col).desc())
                    ),
                )
                .filter(F.col("_rn") == 1)
                .select("doc_id", "text")
            )
        docs = docs.select("doc_id", "text").dropDuplicates()
        conflict = (
            docs.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .limit(1)
            .collect()
        )
        if conflict:
            raise ValueError(
                f"doc_id {conflict[0]['doc_id']} appears with conflicting "
                "texts in one unsequenced batch; pass seq_col= to define "
                "which revision wins"
            )
        return docs

    @maintained
    def build(
        self,
        spark: SparkSession,
        docs: DataFrame,
        seq_col: str | None = None,
    ) -> None:
        """Tokenize ``docs`` (doc_id, text) into term-hash-bucketed
        postings + the doc index; one write job each, atomic publish."""
        gen = self._post.version + 1
        toks = self._tokenized(self._resolve_batch(docs, seq_col)).persist()
        try:
            self._post.commit(
                replace_all=self._post.write_data(self._postings(toks, gen))
            )
            self._docs.commit(
                replace_all=self._docs.write_data(self._doc_rows(toks, gen))
            )
        finally:
            toks.unpersist()
        self._repl.commit(replace_all={})
        self.refresh_stats()

    @maintained
    def upsert(
        self,
        spark: SparkSession,
        new_docs: DataFrame,
        seq_col: str | None = None,
    ) -> None:
        """Latest-wins document upsert: brand-new ids append; ids that
        already exist are REPLACED — their old postings stop scoring
        the moment the upsert commits (the reference's defining
        latest-wins semantics, Executer.cs:240-261, applied to the
        serving index). Within-batch duplicates resolve by ``seq_col``
        (highest wins) or raise if conflicting and unsequenced — see
        ``_resolve_batch``. Incremental and crash-safe like every
        table: cost is O(batch + replaced ids' doc_index spans), never
        a rebuild."""
        new_docs = self._resolve_batch(new_docs, seq_col)
        gen = self._post.version + 1
        ids = new_docs.select("doc_id").distinct()
        dspans = sorted(
            r[0]
            for r in ids.select(self._dspan(F.col("doc_id")))
            .distinct()
            .collect()
        )
        # probe: which incoming ids already exist, and their old dl —
        # manifest-pruned to the incoming ids' doc spans only
        existing = self._docs.read(spark, spans=dspans)
        old = (
            existing.join(ids, "doc_id", "semi") if existing is not None
            else None
        )
        n_replaced, old_dl = 0, 0
        if old is not None:
            [[n_replaced, old_dl]] = old.agg(
                F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0))
            ).collect()
        # Ids needing a (doc_id, live_gen=gen) pin: ids already in the
        # doc index (replacements), PLUS ids present only in the
        # replaced set — a doc delete()d but not yet compacted away.
        # Without the second class, re-upserting a taken-down id would
        # either leave its dead-sentinel row (hiding the NEW postings)
        # or drop its vector entirely (RESURRECTING the old postings,
        # which still exist physically until compact()); pinning the
        # new generation keeps exactly the fresh rows live.
        cur = self._repl.read(spark, spans=dspans)
        # tombed-id presence costs one bounded limit(1) job and ONLY
        # when a replaced table exists at all — the append-only ingest
        # fast path (fresh index, cur is None) pays nothing beyond the
        # pre-r11 probe
        tombed = None
        if cur is not None:
            tombed = cur.join(ids, "doc_id", "semi").select("doc_id")
            if not tombed.limit(1).collect():
                tombed = None
        pin = old.select("doc_id") if old is not None else None
        if tombed is not None:
            pin = tombed if pin is None else pin.unionByName(tombed)
        n_pinned = 0
        if pin is not None and (n_replaced or tombed is not None):
            pin = pin.distinct()
            n_pinned = 1
        # 1. delete vectors FIRST: once (doc_id, live_gen=gen) is
        # committed, no generation but this upsert's can score — the
        # old rows die now, the new rows only become live when they
        # land. (A crash here hides the doc until the retry; it never
        # double-scores it.)
        if n_pinned:
            repl_new = pin.select(
                "doc_id",
                F.lit(gen).cast("long").alias("live_gen"),
                self._dspan(F.col("doc_id")).alias("dspan"),
            )
            surv = (
                cur.join(ids, "doc_id", "anti") if cur is not None else None
            )
            out = (
                surv.unionByName(repl_new) if surv is not None else repl_new
            )
            mapping = self._repl.write_data(out)
            self._repl.commit(
                replace=mapping,
                drop=[s for s in dspans if s not in mapping],
            )
        # 2. doc index: CoW-rewrite the incoming ids' doc spans
        # (survivors minus incoming, latest-wins) — committed BEFORE
        # the postings so a crashed attempt's generation is always
        # visible to the retry's probe as "exists" (and thus gets a
        # delete vector); an index entry whose postings never landed
        # only hides the doc until the retry, never double-scores it
        toks = self._tokenized(new_docs).persist()
        try:
            new_idx = self._doc_rows(toks, gen)
            surv_idx = (
                existing.join(ids, "doc_id", "anti")
                if existing is not None
                else None
            )
            out_idx = (
                surv_idx.unionByName(new_idx)
                if surv_idx is not None
                else new_idx
            )
            imapping = self._docs.write_data(out_idx)
            self._docs.commit(
                replace=imapping,
                drop=[s for s in dspans if s not in imapping],
            )
            # 3. postings: pure append — every older generation of the
            # incoming ids is already dead via the delete vectors
            self._post.commit(
                append=self._post.write_data(self._postings(toks, gen))
            )
            # 4. corpus scalars: growth plus the replaced docs' dl delta
            [[n_new, new_dl]] = toks.agg(
                F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0))
            ).collect()
        finally:
            toks.unpersist()
        s = self.stats()
        with open(self._stats_path, "w") as f:
            json.dump(
                {
                    "n_docs": s["n_docs"] + int(n_new) - int(n_replaced),
                    "total_dl": s["total_dl"] + int(new_dl) - int(old_dl),
                },
                f,
            )
        self._maybe_auto_compact()

    @maintained
    def delete(self, spark: SparkSession, doc_ids: DataFrame) -> None:
        """TAKEDOWN: remove documents from the serving index — the
        reference's delete-and-reschedule contract (Executer.cs:
        240-261) and the ANN index's MoR tombstone pattern
        (plans/ann_index.py delete()) applied to BM25 postings. A
        (doc_id, live_gen=-1) DEAD SENTINEL lands in the replaced set
        — -1 is a generation no commit can carry (generations start at
        1), so every posting of the doc stops scoring the instant the
        sentinel commits, with ZERO postings files rewritten; the
        doc_index rows CoW-rewrite out of the ids' own doc spans and
        the corpus scalars decrement, so (n_docs, avgdl) track the
        takedown immediately. ``compact()`` MATERIALIZES the delete
        (folds the dead postings out and clears the sentinel). Commit
        order is sentinel -> doc_index -> stats: a crash after the
        sentinel already serves correctly (doc invisible), and a
        re-run heals the doc_index — ids no longer in the doc index
        just refresh their sentinel (idempotent). A crash in the tiny
        window between the doc_index commit and the stats write
        leaves the same bounded scalar drift the upsert contract
        documents; ``refresh_stats()`` squares it away exactly. Ids
        never indexed are ignored. Cost: O(deleted ids' doc spans), never a postings
        scan. Re-upserting a deleted id later is safe: upsert pins the
        new generation over the sentinel (see upsert), so the dead
        rows stay dead and the new rows score."""
        ids = doc_ids.select("doc_id").distinct()
        dspans = sorted(
            r[0]
            for r in ids.select(self._dspan(F.col("doc_id")))
            .distinct()
            .collect()
        )
        if not dspans:
            return
        existing = self._docs.read(spark, spans=dspans)
        old = (
            existing.join(ids, "doc_id", "semi")
            if existing is not None
            else None
        )
        n_del, old_dl = 0, 0
        if old is not None:
            [[n_del, old_dl]] = old.agg(
                F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0))
            ).collect()
        cur = self._repl.read(spark, spans=dspans)
        # sentinel also for ids already tombstoned (idempotent re-run)
        dead_ids = old.select("doc_id") if old is not None else None
        if cur is not None:
            retomb = cur.join(ids, "doc_id", "semi").select("doc_id")
            dead_ids = (
                retomb
                if dead_ids is None
                else dead_ids.unionByName(retomb)
            )
        if dead_ids is None:
            return  # nothing ever indexed under these ids
        dead_ids = dead_ids.distinct()
        if not dead_ids.limit(1).collect():
            return
        # 1. dead sentinel FIRST — postings stop scoring now
        dead = dead_ids.select(
            "doc_id",
            F.lit(-1).cast("long").alias("live_gen"),
            self._dspan(F.col("doc_id")).alias("dspan"),
        )
        surv = cur.join(ids, "doc_id", "anti") if cur is not None else None
        out = surv.unionByName(dead) if surv is not None else dead
        mapping = self._repl.write_data(out)
        self._repl.commit(
            replace=mapping, drop=[s for s in dspans if s not in mapping]
        )
        # 2. doc index: CoW-rewrite the ids' doc spans minus the ids
        if n_del:
            surv_idx = existing.join(ids, "doc_id", "anti")
            imapping = self._docs.write_data(surv_idx)
            self._docs.commit(
                replace=imapping,
                drop=[s for s in dspans if s not in imapping],
            )
            # 3. corpus scalars: remove the deleted docs' contribution
            s = self.stats()
            with open(self._stats_path, "w") as f:
                json.dump(
                    {
                        "n_docs": s["n_docs"] - int(n_del),
                        "total_dl": s["total_dl"] - int(old_dl),
                    },
                    f,
                )

    def _maybe_auto_compact(self) -> None:
        """Post-upsert trigger: when the postings table averages
        ``auto_compact_files_per_span`` files per live span, fold dead
        generations + slivers and clear the replaced set. Manifest
        reads only decide the trigger; the work itself is one
        distributed rewrite whose swap-in is atomic, so a query racing
        the compaction sees identical results either side of it."""
        k = self.auto_compact_files_per_span
        if not k:
            return
        mapping = self._post.spans()
        n_spans = len(mapping)
        n_files = sum(len(v) for v in mapping.values())
        if n_spans and n_files >= k * n_spans:
            self.compact()

    @maintained
    def compact(self, spark: SparkSession) -> None:
        """Fold the delete vectors into the postings files: one
        distributed filter-rewrite job dropping every dead generation,
        then an empty ``replaced`` table. Run on a cadence (or when
        the replaced set outgrows broadcast size); queries before,
        during, and after see identical results — the rewrite swaps in
        atomically."""
        post = self._post.read(spark)
        if post is None:
            return
        live = self._live_filter(post, spark)
        self._post.commit(replace_all=self._post.write_data(live))
        self._repl.commit(replace_all={})

    def vacuum(self, keep_versions: int = 0) -> int:
        """Reclaim unreferenced data files and bound the manifest
        archive across all three tables (the store's vacuum applied to
        the index — right-to-erasure's final step: after a delete() +
        compact(), pre-delete snapshots still reproduce the victim
        under time travel until this prunes them; q_takedown_erasure
        attests exactly that). Returns files removed."""
        return sum(
            t.vacuum(keep_versions=keep_versions)
            for t in (self._post, self._docs, self._repl)
        )

    def stats(self) -> dict:
        with open(self._stats_path) as f:
            return json.load(f)

    @maintained
    def refresh_stats(self, spark: SparkSession) -> dict:
        """Recompute (n_docs, total_dl) exactly from the doc_index —
        one columnar count+sum. The incremental per-upsert update is
        exact in normal operation; a crash between an upsert's table
        commits and its stats write leaves a bounded drift, and this
        squares it away."""
        idx = self._docs.read(spark)
        if idx is None:
            n, dl = 0, 0  # empty index: no doc_index files at all
        else:
            [[n, dl]] = idx.agg(
                F.count(F.lit(1)), F.coalesce(F.sum("dl"), F.lit(0))
            ).collect()
        s = {"n_docs": int(n), "total_dl": int(dl)}
        with open(self._stats_path, "w") as f:
            json.dump(s, f)
        return s

    # ----- serve -----------------------------------------------------------

    def _live_filter(
        self, post: DataFrame, phase: SparkSession | bool
    ) -> DataFrame:
        """Drop superseded generations: left-join against the (small)
        replaced set, read through ``post``'s session and hinted by
        :func:`maint_small_side` for ``phase``; a row survives iff its
        doc was never replaced or it carries the doc's live
        generation."""
        tomb = self._repl.read(post.sparkSession)
        if tomb is None:
            return post
        tomb = tomb.select("doc_id", "live_gen")
        return (
            post.join(maint_small_side(tomb, phase), "doc_id", "left")
            .filter(
                F.col("live_gen").isNull()
                | (F.col("gen") == F.col("live_gen"))
            )
            .drop("live_gen")
        )

    def _term_spans(self, terms: list[str]) -> list[int]:
        """The postings spans of ``terms`` — ``pmod(xxhash64(token),
        n_spans)``, the span expression of :meth:`_postings` — computed
        on the driver with Spark's own XXH64 (seed 42, the
        ``xxhash64`` default) over each term's UTF-8 bytes: no Spark
        job. Python's ``%`` with a positive modulus is ``pmod``."""
        jvm = self.spark._jvm
        xxh64 = jvm.org.apache.spark.sql.catalyst.expressions.XXH64
        utf8 = jvm.org.apache.spark.unsafe.types.UTF8String
        return sorted(
            {
                xxh64.hashUTF8String(utf8.fromString(t), 42) % self.n_spans
                for t in terms
            }
        )

    def bm25(self, terms: list[str], k: int = 20) -> DataFrame:
        """Okapi BM25 top-k over the probed postings spans only.
        Identical scoring to operators/search.q_bm25 (fixed-order
        per-term sum, rounded before ranking); df comes from the
        probed postings after the latest-wins filter, (n_docs, avgdl)
        from the maintained stats.

        Returns the lazy serving plan — manifest-pruned postings scan,
        broadcast df, top-k — under the session's full AQE
        configuration. Nothing runs before the caller's action: the
        term spans are hashed on the driver (:meth:`_term_spans`)."""
        s = self.stats()
        n_docs = int(s["n_docs"])
        spans = self._term_spans(terms)
        post = self._post.read(self.spark, spans=spans) if n_docs else None
        if post is None:
            # empty index (fresh build, or every doc replaced away) or
            # no postings in the probed spans: empty result, and never
            # a division by n_docs == 0 below
            return self.spark.createDataFrame(
                [], "doc_id long, score double"
            )
        avgdl = float(s["total_dl"]) / n_docs
        tf = self._live_filter(post, False).filter(
            F.col("token").isin(terms)
        )
        dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        scored = tf.join(F.broadcast(dfreq), "token").select(
            "doc_id",
            "token",
            (
                F.log(
                    ((F.lit(n_docs) - F.col("df")) + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (
                    F.col("tf")
                    # literal 2.2, not K1+1.0: 1.2 is inexact in binary,
                    # so the sum differs from the literal by 1 ulp and
                    # would round() differently from the oracle's 2.2
                    * F.lit(2.2)
                    / (
                        F.col("tf")
                        + F.lit(K1)
                        * (
                            F.lit(1.0 - B)
                            + F.lit(B) * (F.col("dl") / F.lit(avgdl))
                        )
                    )
                )
            ).alias("sc"),
        )
        p = scored.groupBy("doc_id").agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("token") == t, F.col("sc"))),
                    F.lit(0.0),
                ).alias(f"s_{i}")
                for i, t in enumerate(terms)
            ]
        )
        total = F.col("s_0")
        if len(terms) == 3:
            # fixed evaluation order matching the oracle: s0 + (s1 + s2)
            total = F.col("s_0") + (F.col("s_1") + F.col("s_2"))
        else:
            for i in range(1, len(terms)):
                total = total + F.col(f"s_{i}")
        ranked = p.select(
            "doc_id", F.round(total, 4).alias("score")
        ).orderBy(F.desc("score"), "doc_id")
        return ranked.limit(k)
