"""JoinView — incremental maintenance of a two-table JOIN + aggregate.

The reference's update contract (Executer.cs:240-261: a re-Executed
document retracts its old contribution and lands its new one) applies
to ONE input collection; this class extends it to the classic
warehouse shape ``fact ⋈ dim GROUP BY dims`` so that an upsert to
EITHER side — including a dim-attribute change that must
retro-propagate through every previously-joined fact row, and a fact
whose join key migrates between dim partners — updates the persisted
aggregate at delta cost, never a full recompute.

Design (delta view maintenance, DBToaster/Materialize-style, expressed
as dirty-span-bounded Spark jobs over :class:`ManifestTable`
snapshots):

- Both side tables are span-partitioned by the SAME pure hash of the
  join key (``pmod(xxhash64(join_key), n_spans)``), so a join key's
  fact rows and its dim row always share a span: the maintenance join
  reads ONLY the dirty spans' files on both sides (manifest-pruned),
  and its exchange therefore carries dirty-span rows, never the
  table. At 100 TB, ``n_spans`` scales with the table so one span is
  a bounded rewrite/join unit; cost per batch is O(dirty-span bytes).
- A ``fact_index`` table (fact id -> current join span, spanned by a
  hash of the fact id) answers "where does this fact's OLD row live"
  with a span-pruned lookup — the same trick MapReduceView's doc
  index uses for key migration (view.py) — so a fact whose join key
  changed dirties exactly its old span and its new span.
- A ``partials`` table holds per-(span, group) partial aggregates.
  A batch recomputes partials ONLY for dirty spans (a join +
  re-aggregate whose input is those spans' rows), and :meth:`final_df` re-reduces
  partials across spans — the engine's two-level reduce-tree shape
  (view.py two_level), so reads cost O(groups × spans), never a fact
  scan.

Aggregate contract: ``agg_exprs`` (per-span, over joined columns) and
``rereduce_exprs`` (across spans, over the aliased partial columns)
must compose to the true aggregate — the same closure the reference
demands of Reduce (MapReduceTask.cs:10), e.g. count via sum-of-counts.

Join semantics are INNER: a fact whose join key has no dim row yet
contributes nothing, but its row persists in its span, so the dim
row's later arrival revives it via the span recompute — no
"lost fact" race, attested by the operator's interleaving test.

Crash safety: each write journals its dirty span set BEFORE the
first commit and clears it after the last (facts -> index ->
partials). Reopening a view with a live journal HEALS at O(dirty
spans): index entries are re-derived from the fact table's dirty
spans (every row the torn batch moved lives there — dirty = old
spans ∪ new spans — so a wrong-span entry cannot hide a live row;
stale entries for rows a torn delete removed are benign extra
lookups, never wrong answers) and partials are recomputed for the
same spans. The invariant matches the view store's journal
(view.py / tests/test_recovery.py): a reopened view is "batch fully
applied" or "batch not applied", never a torn mix. Single writer
per view is the deployment rule, but not the safety mechanism: every
fact/partials commit pins the snapshot it was derived from
(``base_version``), so a racing writer's overlapping commit raises
:class:`ConcurrentCommitError` loudly instead of silently losing an
update — the OCC posture merge/delete_keys already hold.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import ManifestTable
from .view import maintenance_session, on_session


class JoinView:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        fact_id: str,
        join_col: str,
        dim_id: str,
        group_cols: Sequence[str],
        agg_exprs: Sequence[Column],
        rereduce_exprs: Sequence[Column],
        n_spans: int = 16,
    ):
        self.spark = spark
        self.path = path
        self.fact_id = fact_id
        self.join_col = join_col
        self.dim_id = dim_id
        self.group_cols = list(group_cols)
        self.agg_exprs = list(agg_exprs)
        self.rereduce_exprs = list(rereduce_exprs)
        self.n_spans = int(n_spans)
        self._fact_t = ManifestTable(os.path.join(path, "facts"), "__jspan")
        self._dim_t = ManifestTable(os.path.join(path, "dims"), "__jspan")
        self._idx_t = ManifestTable(
            os.path.join(path, "fact_index"), "__ispan"
        )
        self._part_t = ManifestTable(
            os.path.join(path, "partials"), "__jspan"
        )
        self._journal_path = os.path.join(path, "journal.json")
        self._recover()

    # ----- span assignment -------------------------------------------------

    def _jspan(self, col) -> Column:
        return F.pmod(F.xxhash64(F.col(col) if isinstance(col, str) else col),
                      F.lit(self.n_spans)).cast("int")

    def _ispan(self, col) -> Column:
        # A DIFFERENT derivation than _jspan on purpose: the index is
        # keyed by fact id, and reusing the join-key hash would
        # correlate index spans with join spans for integer ids.
        return F.pmod(
            F.xxhash64(F.lit("fidx"), F.col(col) if isinstance(col, str) else col),
            F.lit(self.n_spans),
        ).cast("int")

    # ----- maintenance sizing ----------------------------------------------

    # The probe collects are distincts over span ids: map-side partial
    # aggregation reduces ANY batch to <= n_spans (or n_spans²) rows
    # before the shuffle, so a small fixed reducer count is safe at
    # every scale (the same argument as view.py's _hint_partitions).
    _PROBE_PARTITIONS = 8
    _BYTES_PER_PARTITION = 64 * 1024 * 1024

    def _heavy_n(self, spans) -> int:
        """Partition count for a batch's heavy phase (survivor rewrite,
        merge, span re-join/re-aggregate): the dirty spans' on-disk
        bytes across fact+dim tables — driver-side manifest metadata,
        no job. maintenance_session only ever SHRINKS below the
        session default, so a large dirty slice keeps the caller's
        session with full parallelism + AQE (the 100 TB path); a
        bench-scale batch stops paying 32-wide AQE
        stage-materialization jobs per action."""
        total = 0
        for t in (self._fact_t, self._dim_t):
            mapping = t.spans()
            total += sum(
                os.path.getsize(os.path.join(t.path, f))
                for s in spans
                for f in mapping.get(s, [])
                if os.path.exists(os.path.join(t.path, f))
            )
        import math

        return max(
            self._PROBE_PARTITIONS,
            math.ceil(total / self._BYTES_PER_PARTITION),
        )

    # ----- writes ----------------------------------------------------------

    def upsert_facts(self, batch: DataFrame) -> dict:
        """Latest-wins upsert of fact rows (unique, non-null
        ``fact_id``; must carry ``join_col`` + every payload column).
        Dirty spans = the batch rows' NEW join spans ∪ the replaced
        ids' OLD spans (from the fact index, span-pruned lookup);
        only those spans are rewritten and re-aggregated."""
        spark = self.spark
        b = batch.withColumn("__jspan", self._jspan(self.join_col))
        b = b.localCheckpoint(eager=True)  # one evaluation: spans+write
        # ONE probe job discovers both span footprints (new join spans
        # AND the ids' index spans): a distinct over (jspan, ispan)
        # pairs is <= n_spans² rows after map-side partials, so it runs
        # on the fixed probe sizing (AQE off, no stage-job cascade)
        # — previously two separate full-width AQE collects.
        ps = maintenance_session(spark, self._PROBE_PARTITIONS)
        pair_rows = (
            on_session(b, ps)
            .select("__jspan", self._ispan(self.fact_id).alias("__ispan"))
            .distinct()
            .collect()
        )
        new_spans = {int(r[0]) for r in pair_rows}
        idx_spans = {int(r[1]) for r in pair_rows}

        old_spans = set()
        idx = self._idx_t.read(ps, spans=sorted(idx_spans))
        if idx is not None:
            old = idx.join(
                b.select(self.fact_id), on=self.fact_id, how="left_semi"
            )
            old_spans = {
                int(r[0]) for r in old.select("__jspan").distinct().collect()
            }
        dirty = sorted(new_spans | old_spans)
        self._journal_begin(dirty)

        # Rewrite the dirty fact spans: survivors (anti-join on id —
        # a replaced id's old row can only live in a dirty span, the
        # index said so) + the batch rows. The commit pins the
        # snapshot the rewrite was derived from (base_version), so a
        # racing writer's overlapping commit raises
        # ConcurrentCommitError instead of being silently overwritten
        # — the same OCC posture merge/delete_keys already hold; the
        # documented single-writer assumption is a deployment rule,
        # not the safety mechanism.
        hs = maintenance_session(spark, self._heavy_n(dirty))
        b = on_session(b, hs)
        base_v = self._fact_t.version
        cur = self._fact_t.read(hs, spans=dirty)
        out = b
        if cur is not None:
            out = cur.join(
                b.select(self.fact_id), on=self.fact_id, how="left_anti"
            ).unionByName(b)
        mapping = self._fact_t.write_data(out)
        self._fact_t.commit(
            replace={s: mapping[s] for s in mapping},
            drop=[s for s in dirty if s not in mapping],
            base_version=base_v,
        )

        # Index upsert: fact id -> its new join span (merge is legal:
        # keyed by fact id, __ispan a pure function of it). __jspan is
        # taken straight off the checkpointed batch row, never
        # recomputed from the bare id.
        src = b.select(self.fact_id, "__jspan").withColumn(
            "__ispan", self._ispan(self.fact_id)
        )
        # touched = the probe's idx_spans (exactly src's distinct
        # __ispan set — same rows, same pure hash) and the stats are
        # unused: skip merge's two bookkeeping jobs.
        self._idx_t.merge(
            src,
            on=[self.fact_id],
            touched=sorted(idx_spans),
            want_counts=False,
        )

        self._recompute_partials(dirty, hs)
        self._journal_clear()
        return {"dirty_spans": dirty, "migrated_from": sorted(old_spans - new_spans)}

    def upsert_dims(self, batch: DataFrame) -> dict:
        """Latest-wins upsert of dim rows (unique, non-null
        ``dim_id`` == the join key, so a dim row's span never moves).
        Dirty spans = the batch's spans; every previously-joined fact
        row in them re-joins against the NEW dim attributes — the
        retro-propagation a map-side enrichment join cannot do."""
        b = batch.withColumn("__jspan", self._jspan(self.dim_id))
        b = b.localCheckpoint(eager=True)
        ps = maintenance_session(self.spark, self._PROBE_PARTITIONS)
        dirty = sorted(
            int(r[0])
            for r in on_session(b, ps).select("__jspan").distinct().collect()
        )
        self._journal_begin(dirty)
        hs = maintenance_session(self.spark, self._heavy_n(dirty))
        # touched = the probe's dirty set (exactly b's distinct __jspan
        # set); stats unused — skip both bookkeeping jobs.
        self._dim_t.merge(
            on_session(b, hs), on=[self.dim_id], touched=dirty,
            want_counts=False,
        )
        self._recompute_partials(dirty, hs)
        self._journal_clear()
        return {"dirty_spans": dirty}

    def delete_facts(self, ids: DataFrame) -> dict:
        """Remove fact rows by id (retracting their contribution).
        Cost: O(the victims' spans), located via the fact index."""
        spark = self.spark
        ids = ids.select(F.col(self.fact_id)).withColumn(
            "__ispan", self._ispan(self.fact_id)
        )
        ids = ids.localCheckpoint(eager=True)
        ps = maintenance_session(spark, self._PROBE_PARTITIONS)
        idx_spans = {
            int(r[0])
            for r in on_session(ids, ps).select("__ispan").distinct().collect()
        }
        idx = self._idx_t.read(ps, spans=sorted(idx_spans))
        if idx is None:
            return {"dirty_spans": []}
        hit = idx.join(ids.select(self.fact_id), on=self.fact_id, how="left_semi")
        dirty = sorted(
            int(r[0]) for r in hit.select("__jspan").distinct().collect()
        )
        if not dirty:
            return {"dirty_spans": []}
        self._journal_begin(dirty)
        hs = maintenance_session(spark, self._heavy_n(dirty))
        base_v = self._fact_t.version
        cur = self._fact_t.read(hs, spans=dirty)
        if cur is not None:
            # cur is None only when every dirty span is already empty —
            # possible when the index holds only stale (healed-over)
            # entries for rows a torn delete removed; nothing to rewrite
            out = cur.join(
                ids.select(self.fact_id), on=self.fact_id, how="left_anti"
            )
            mapping = self._fact_t.write_data(out)
            self._fact_t.commit(
                replace={s: mapping[s] for s in mapping},
                drop=[s for s in dirty if s not in mapping],
                base_version=base_v,
            )
        self._idx_t.delete_keys(
            on_session(hit, hs).select("__ispan", self.fact_id),
            on=[self.fact_id],
        )
        self._recompute_partials(dirty, hs)
        self._journal_clear()
        return {"dirty_spans": dirty}

    # ----- crash journal ---------------------------------------------------

    def _journal_begin(self, dirty) -> None:
        """Record the batch's dirty span set before its first commit
        (atomic tmp+rename, same as the manifest pointer)."""
        import json

        os.makedirs(self.path, exist_ok=True)
        tmp = self._journal_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"dirty": sorted(int(s) for s in dirty)}, f)
        os.replace(tmp, self._journal_path)

    def _journal_clear(self) -> None:
        try:
            os.remove(self._journal_path)
        except FileNotFoundError:
            pass

    def _recover(self) -> None:
        """Heal a torn batch on reopen: re-derive index entries from
        the fact table's dirty spans and recompute their partials —
        O(dirty spans), idempotent (safe for a crash at ANY stage,
        including before the first commit, where it degrades to a
        no-op refresh of unchanged spans)."""
        import json

        if not os.path.exists(self._journal_path):
            return
        with open(self._journal_path) as f:
            dirty = [int(s) for s in json.load(f)["dirty"]]
        hs = maintenance_session(self.spark, self._heavy_n(dirty))
        facts = self._fact_t.read(hs, spans=dirty)
        if facts is not None:
            src = facts.select(self.fact_id, "__jspan").withColumn(
                "__ispan", self._ispan(self.fact_id)
            )
            self._idx_t.merge(src, on=[self.fact_id], want_counts=False)
        self._recompute_partials(dirty, hs)
        self._journal_clear()

    # ----- maintenance -----------------------------------------------------

    def _recompute_partials(self, spans, spark: SparkSession) -> None:
        """Join + aggregate over exactly ``spans`` on the phase session
        ``spark``; replace those partial spans (drop the ones that
        emptied). Both reads are manifest-span-pruned, so the
        equi-join's input — and hence its exchange — is bounded by the
        dirty spans' bytes; no other span's files are touched."""
        spans = sorted(set(int(s) for s in spans))
        if not spans:
            return
        base_v = self._part_t.version  # OCC pin, same as the fact commit
        f = self._fact_t.read(spark, spans=spans)
        d = self._dim_t.read(spark, spans=spans)
        mapping: dict[int, list[str]] = {}
        if f is not None and d is not None:
            joined = f.drop("__jspan").join(
                d.withColumnRenamed(self.dim_id, self.join_col)
                if self.dim_id != self.join_col
                else d,
                on=self.join_col,
                how="inner",
            )
            part = joined.groupBy("__jspan", *self.group_cols).agg(
                *self.agg_exprs
            )
            mapping = self._part_t.write_data(part)
        self._part_t.commit(
            replace={s: mapping[s] for s in mapping},
            drop=[s for s in spans if s not in mapping],
            base_version=base_v,
        )

    def refresh_partials(self) -> None:
        """Full maintenance pass: recompute every span present on
        either side (each span's recompute is still span-bounded)."""
        spans = set(self._fact_t.spans()) | set(self._dim_t.spans())
        self._recompute_partials(
            spans, maintenance_session(self.spark, self._heavy_n(spans))
        )

    # ----- reads -----------------------------------------------------------

    def final_df(self, version: int | None = None) -> DataFrame:
        """Re-reduce the persisted partials across spans — O(groups ×
        spans) rows read, never a fact/dim scan. ``version`` time-
        travels to an archived partials snapshot (every write commits
        the partials exactly once, so version N is the view AS OF its
        N-th delta batch — the store's time-travel contract extended
        to a derived JOINED artifact)."""
        p = self._part_t.read(self.spark, version=version)
        if p is None:
            return self.spark.createDataFrame(
                [], schema=", ".join(f"{c} string" for c in self.group_cols)
            )
        return p.groupBy(*self.group_cols).agg(*self.rereduce_exprs)

    def vacuum(self, keep_versions: int = 0) -> int:
        """Retention-bounded GC across all four tables (facts, dims,
        fact index, partials): unreferenced data files and archived
        manifests past ``keep_versions`` are removed. The erasure
        composition (q_takedown_erasure's contract, extended to this
        artifact): :meth:`delete_facts` removes a victim from every
        CURRENT surface, but archived fact/partials versions still
        reproduce it under ``final_df(version=...)`` until this
        vacuum prunes them — run it to make a takedown stick across
        time travel. Returns total files removed."""
        return sum(
            t.vacuum(keep_versions=keep_versions)
            for t in (self._fact_t, self._dim_t, self._idx_t, self._part_t)
        )

    def stats(self) -> dict:
        return {
            "fact_version": self._fact_t.version,
            "dim_version": self._dim_t.version,
            "partials_version": self._part_t.version,
            "n_spans": self.n_spans,
        }
