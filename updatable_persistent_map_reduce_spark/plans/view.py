"""MapReduceView — the updatable persistent map-reduce core (Tier A).

Re-designs the reference engine's semantics (NOT its machinery) on
Spark. Reference behavior being reproduced (see SURVEY §1 invariants):

- ``execute(batch)`` upserts documents: re-submitting a doc id
  *replaces* its previous map output everywhere, then re-aggregates
  (reference: MapReduce/Executer.cs:87-110 ExecuteMap +
  Executer.cs:240-261 delete-and-reschedule).
- A doc whose group key changes moves between groups with the grand
  total conserved (reference demo: MapReduce/Program.cs:35-44).
- Only state touched by the batch is recomputed (reference schedules
  dirty (key, bucket-span) markers, Executer.cs:115-151, and its
  reduce pass consumes only scheduled spans, Executer.cs:305-367).
- ``query(key)`` is a point lookup of the materialized result — no
  computation at read time; unknown key => empty
  (Executer.cs:370-376).
- Doc ids match case-insensitively on upsert (Executer.cs:245-247).
- State survives process lifetimes (the reference's whole point: its
  filesystem trees are the only cross-process channel). Here that
  contract is *crash-safe*: every state table is a
  :class:`~..plans.store.ManifestTable` (immutable data files +
  atomically-swapped JSON manifest), a batch is bracketed by a
  recovery journal, and reopening after a kill at any point yields a
  store equivalent to "batch fully applied" or "batch not applied".

Spark-first architecture
------------------------
Four manifest tables under ``store_path``:

``map_results/``  (span column ``pspan`` = key-span x doc-bucket)
    Persisted per-document map output (the reference's
    ``MapResults/<key>/<bucket>/<docId>`` tree, Executer.cs:165-183),
    physically partitioned by the PAIR ``pspan = kspan * n_sub_buckets
    + bucket``, where ``kspan = crc32('\x1f'-joined string casts of
    the group key) % n_key_spans`` (crc32 so the driver computes a
    key's span in pure Python, see ``_kspan``) and ``bucket`` is the
    doc's stable case-insensitive hash bucket. The pair is the
    copy-on-write rewrite unit and the recompute read unit — both
    pruned file-exactly against the manifest.

``doc_index/``  (span column ``dspan``)
    ``(uid, kspan)`` locations of every live doc's map output,
    clustered by the stable case-insensitive **doc bucket** span
    (``_doc_hash``, the reference's Executer.cs:295-303 role).
    This replaces the reference's O(corpus) invalidation scan
    (``Directory.GetFiles(AllDirectories)``, Executer.cs:245) with a
    manifest-pruned lookup: an incoming batch reads only its own doc
    spans' files.

``final_results/``  (span column ``kspan``)
    The materialized aggregate (the reference's ``FinalResults/<key>``,
    Executer.cs:263-276); point lookups read one span's files.

``reduce_l1/``  (span column ``kspan``; two-level mode)
    Materialized per-(key-span, doc-bucket) partial aggregates — the
    reference's level-one reduce results (``ReduceResults/One``,
    Executer.cs:80-81,192-203) with per-bucket dirty granularity: a
    batch recomputes partials only for buckets holding changed docs
    (the map table is pair-partitioned, so the recompute reads exactly
    the dirty pairs' files) and finals re-reduce the span's partials.
    Requires ``agg_exprs`` closed under re-application to their own
    output (the reference's re-reducible Reduce contract,
    MapReduceTask.cs:10).

Incremental maintenance per ``execute(batch)``:

1. map the batch (user map = any DataFrame transform, 0..N output
   rows per doc — the reference's ``Map`` contract,
   MapReduceTask.cs:8);
2. dirty key-spans = spans of the batch's new keys ∪ spans holding
   replaced docs' old output (via the manifest-pruned doc_index
   lookup);
3. write replacement/append data files for the dirty (key-span,
   doc-bucket) pairs of ``map_results`` (survivors = existing rows
   minus incoming doc ids, latest-wins) — files are invisible until
   the manifest commit;
4. re-aggregate *only* the dirty key-spans (pruned file list +
   partial/final HashAggregate — Spark's native two-level reduce tree,
   the reference's Executer.cs:47-85 for free);
5. journal the dirty spans, then commit the tables in dependency
   order (doc_index → map_results → reduce_l1 → final_results), each
   an atomic manifest swap, and clear the journal.

Crash recovery: the doc_index commit leads because a stale *extra*
index entry only over-dirties a later batch (recompute reads
map_results, the source of truth) — whereas a *missing* entry would
leak stale rows, so map_results never commits before the index. A
crash inside the map-commit → finals-commit window leaves the journal
behind; reopening the view re-aggregates the journaled spans from
committed map_results and re-publishes finals (and L1), converging the
downstream tables. Data files written by a crashed batch are never
referenced by any manifest — invisible, reclaimed by ``vacuum()``.

Cost per batch is O(|batch| + rewritten-pair bytes + dirty-span
aggregation), independent of corpus size — strictly better than the
reference, which rescans all map results for invalidation on every
batch. Pairs holding a replaced doc are copy-on-write rewritten
(bounded by corpus/(n_key_spans*n_sub_buckets) per pair, regardless of
group-key cardinality); pairs dirtied only by brand-new docs take an
O(batch) append (the doc_index never loses an entry, so "no index
entry" proves "never written"), which is what insert-heavy ingest
pays. Because readers hold
manifest-resolved file lists and appends only add unreferenced files,
every write job of a batch runs concurrently — there is no
reader/append ordering to respect (the old directory-swap protocol
needed a two-phase schedule here).

Maintenance sizing: each phase of a batch (batch cache, footprint
probe, heavy rewrite) derives a partition count from driver-side
metadata. Below the caller's shuffle partitions it runs on a child
session (:func:`maintenance_session`: ``spark.newSession()`` holding
the caller's conf plus a static small plan, created once per size and
never changed) by reading through it and rebinding its frames
(:func:`on_session`); otherwise it runs on the caller's session. The
caller's conf is never touched, so analytics beside a running batch,
concurrent views and the serving plans all keep their own settings.

Scale notes (100 TB): raise ``n_key_spans``/``n_doc_spans`` so a span
~= a few GB (they are the rewrite and re-aggregation granularity);
skewed group keys stay healthy because a span holds many keys and AQE
splits oversized shuffle partitions during re-aggregation; all heavy
writes are executor-parallel Spark jobs on concurrent driver threads,
and commits are O(manifest) driver-side metadata swaps. On a real
deployment the manifest tables would be Delta/Iceberg tables (same
commit shape); see plans/store.py.

Commit-path cost, measured (so nobody "optimizes" it again): a full
3-batch q_upsert_recount build at sf0.1 spends ~7 ms across all 9
``ManifestTable.commit`` calls and ~0.4 s across manifest reads,
versus ~7 s in the write jobs (which include computing the plans they
materialize). Folding the per-execute commits into one round-trip
would save single-digit milliseconds locally while weakening the
dependency-ordered crash protocol; on object storage each commit is
one PUT (~10-50 ms), so even there a batch saves at most ~0.1 s.
The per-batch fixed cost that DOES matter is Spark job count — which
is why the write jobs run concurrently, the map table's two pair
classes share one job, and the doc_index lookup folds into the probe
when the index is small.
"""

from __future__ import annotations

import functools
import json
import math
import operator
import os
import threading
import weakref
import zlib
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import ManifestTable


_CLOSED_AGG_RE = None  # compiled lazily; see _rereduce_closed


def maintenance_n(batch: DataFrame | None, *tables) -> int:
    """Right-size a maintenance phase (guide §2.2: derive partitioning
    from the data, never a constant): max of the batch plan's scan
    width and the involved ManifestTables' on-disk bytes / 64 MB —
    all driver-side metadata, no job. Floored at 8; a value at or
    above the session default keeps the caller's session
    (:func:`maintenance_session` only ever shrinks), which is the
    100 TB path."""
    total = 0
    for t in tables:
        try:
            total += t.stats()["bytes"]
        except Exception:  # noqa: BLE001 — missing table: contributes 0
            pass
    width = _plan_width(batch) if batch is not None else None
    return max(8, width or 0, math.ceil(total / (64 * 1024 * 1024)))


def index_session(index, batch: DataFrame | None = None) -> SparkSession:
    """The maintenance session for one call on a persisted index: sized
    by ``maintenance_n(batch, *every ManifestTable the index holds)``
    from the index's own session."""
    tables = [t for t in vars(index).values() if isinstance(t, ManifestTable)]
    return maintenance_session(index.spark, maintenance_n(batch, *tables))


def maintained(fn):
    """Decorator for index maintenance entry points (build/upsert/
    delete/compact): the method runs on :func:`index_session` for
    ``batch``, the first DataFrame argument (None for argless
    maintenance). Every DataFrame argument is rebound to that session
    and the session is passed as the method's first argument after
    ``self``. A nested call (one maintained method calling another)
    sizes itself the same way; serving/query paths stay undecorated
    and keep the session's full AQE configuration."""

    @functools.wraps(fn)
    def wrapper(self, *a, **k):
        batch = next(
            (x for x in (*a, *k.values()) if isinstance(x, DataFrame)), None
        )
        spark = index_session(self, batch)

        def bind(x):
            return on_session(x, spark) if isinstance(x, DataFrame) else x

        a = [bind(x) for x in a]
        k = {name: bind(x) for name, x in k.items()}
        return fn(self, spark, *a, **k)

    return wrapper


def maint_small_side(df: DataFrame, phase: SparkSession | bool) -> DataFrame:
    """Hint the bounded side of a maintenance join for the session that
    runs it: broadcast at scale, shuffle-hash on a shrunken maintenance
    session (``phase`` is that session, or True), where auto-broadcast
    is off and the broadcast build's separate job is pure dispatch
    overhead."""
    small = phase if isinstance(phase, bool) else phase in _CHILD_ROOTS
    return df.hint("shuffle_hash") if small else F.broadcast(df)


def _rereduce_closed(agg_exprs: Sequence[Column] | None) -> bool:
    """True iff every aggregate is *syntactically provably* closed
    under re-application to its own aliased output — ``sum/min/max`` of
    a bare column whose name equals the output alias (the reference's
    re-reducible Reduce contract, MapReduceTask.cs:10: e.g.
    ``sum(cnt) AS cnt`` re-reduces partials correctly, ``count(1) AS
    cnt`` does not). Used to auto-enable the two-level materialized
    reduce tree; conservative by design — anything unrecognized stays
    single-level."""
    global _CLOSED_AGG_RE
    if agg_exprs is None:
        return False
    if _CLOSED_AGG_RE is None:
        import re

        _CLOSED_AGG_RE = re.compile(
            r"^Column<'(?:sum|min|max)\((\w+)\) AS (\w+)'>$"
        )
    for c in agg_exprs:
        m = _CLOSED_AGG_RE.match(str(c))
        if not m or m.group(1) != m.group(2):
            return False
    return True


def _doc_hash(uid_column: Column) -> Column:
    """Stable doc hash for span/bucket assignment: xxhash64 over the
    (already upper-cased) uid — deterministic across runs/sessions
    (fixed seed 42), case-insensitive because the uid is, and fully
    JVM-codegen'd. The reference's per-codepoint fold
    (Executer.cs:295-303) survives as ``functions.bucket.bucket_expr``
    for the `q_bucket_hash` oracle-checked query; *inside* the store
    the hash is a physical placement detail (SURVEY §1: "exact hash
    function need not match"), so the engine uses the cheap one —
    the interpreted higher-order fold costs ~10s of first-use JIT and
    dominates small-batch maintenance. Callers take ``pmod`` of this
    (never ``%``): the raw hash is signed, and ``abs()`` would overflow
    for Long.MIN_VALUE."""
    return F.xxhash64(uid_column)

MapFn = Callable[[DataFrame], DataFrame]

def _plan_width(df: DataFrame) -> int | None:
    """Partition count of ``df``'s plan before any new shuffle —
    driver-side plan inspection, no job. For a batch that is narrow
    ops over a scan (the upsert contract) this is the scan width:
    1-ish for a bench-scale file, thousands at 100 TB — a cheap,
    scale-proportional stand-in for input size. A LOCAL relation
    (createDataFrame — takedown id lists, probe batches) reports
    width 1: its RDD partition count is just defaultParallelism, a
    parallelism artifact that made maintenance_n think a one-row
    batch was cluster-wide and kept maintenance from shrinking (every
    small maintenance action then ran 2-5 AQE stage-materialization
    jobs instead of one). Detected from the analyzed plan's leaves
    (LocalRelation / LogicalRDD / OneRowRelation — driver-provided
    data, never a storage scan); any file-backed leaf keeps the real
    scan width."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        if all(
            leaves.apply(i).nodeName()
            in ("LocalRelation", "LogicalRDD", "OneRowRelation")
            for i in range(leaves.size())
        ):
            return 1
        return df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 — exotic plans: keep defaults
        return None


# What a shrunken maintenance session changes. Every join side of a
# right-sized phase is bounded (one batch + its dirty slice), so the
# partition count is static (AQE's coalescing done up front) and
# auto-broadcast is off: a broadcast build is a SEPARATE job whose
# dispatch costs more than shuffling those rows within the action's
# own job, and maintenance joins hint shuffle-hash instead
# (maint_small_side; guide §3.1 — pick the strategy deliberately).
# Maintenance reads hand Spark explicit manifest-resolved FILE paths;
# above 32 of them the reader launches a parallel listing JOB whose
# dispatch (~120 ms) dwarfs the driver stat()ing a bounded file list.
_SHRUNK_CONF = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "10000",
}
# root session -> {(n, root conf fingerprint): child session}, and
# child -> weak ref to its root. Both hold sessions weakly, so a
# dropped root session takes its children with it.
_CHILDREN: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_CHILD_ROOTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def maintenance_session(spark: SparkSession, n: int | None) -> SparkSession:
    """The session a maintenance phase sized ``n`` runs its actions on.

    The store's internal jobs (dirty-set collects, survivor rewrites,
    span re-aggregation, manifest writes) run over ONE batch + its
    dirty slice — usually orders of magnitude smaller than the
    analytics queries the session is configured for. A 32-partition
    AQE plan on a 1500-row batch spends its wall time on stage
    materialization and empty tasks, ~4x the query cost at bench
    scale. So when ``n`` is below ``spark``'s shuffle partitions, the
    phase runs on a child session (``spark.newSession()``: same
    SparkContext and cache manager, its own SQL conf) holding the
    caller's conf with a static ``n``-partition plan, AQE off,
    auto-broadcast off and no parallel file listing. ``n`` None or at
    least the default returns ``spark`` itself: full parallelism, AQE
    skew-splitting, the 100 TB path.

    A child is configured once, cached per (root session, ``n``,
    fingerprint of the root's conf) and never changed afterwards, so
    the caller's session is never touched and concurrent phases need
    no lock. A phase runs on the child by reading through it and
    rebinding its frames with :func:`on_session`. Passing a child
    back in compares ``n`` against the child's own conf: a nested
    phase can shrink further but never widens back."""
    if n is None:
        return spark
    try:
        default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # noqa: BLE001 — unusual session config
        return spark
    if n >= default:
        return spark
    root = _CHILD_ROOTS[spark]() if spark in _CHILD_ROOTS else spark
    conf_id = root._jsparkSession.sessionState().conf().getAllConfs().hashCode()
    children = _CHILDREN.setdefault(root, {})
    child = children.get((n, conf_id))
    if child is None:
        child = root.newSession()
        for k, v in root.conf.getAll.items():
            if root.conf.isModifiable(k):
                child.conf.set(k, v)
        child.conf.set("spark.sql.shuffle.partitions", str(n))
        for k, v in _SHRUNK_CONF.items():
            child.conf.set(k, v)
        # two threads may race to create the same child: keep one
        child = children.setdefault((n, conf_id), child)
        _CHILD_ROOTS[child] = weakref.ref(root)
    return child


def on_session(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s plan bound to ``spark``: actions on the result plan and
    run under ``spark``'s conf. No job; cached plans still hit (the
    cache manager is shared by every session of a SparkContext). A
    plan always runs under the conf of the frame it is executed from,
    so a phase rebinds whatever it collects or writes."""
    if df.sparkSession is spark:
        return df
    jds = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jds, spark)


# Engine bookkeeping columns stamped onto every map output; user map
# outputs may not use these names (execute() raises on a clash).
_RESERVED_COLS = {"uid", "kspan", "bucket", "dspan", "pspan"}


class MapReduceView:
    """A persistently materialized, incrementally updatable GROUP-BY view.

    Parameters
    ----------
    spark, store_path : session + state directory.
    id_col : column (name) in the *source batch* holding the document
        id (reference: GetDocumentId, MapReduceTask.cs:14).
    map_fn : batch DataFrame -> map-output DataFrame. Must carry
        ``id_col`` through, plus the group-key and value columns; may
        emit 0..N rows per document (flat-map contract,
        MapReduceTask.cs:8). ``None`` = identity.
    group_cols : group-key column names in the map output
        (GetReduceKey, MapReduceTask.cs:12).
    agg_exprs : aliased aggregate Columns (the re-reducible Reduce,
        MapReduceTask.cs:10) — Catalyst runs them partial+final.
    reduce_fn/reduce_schema : escape hatch for a non-algebraic user
        Reduce as a grouped-map pandas function (applyInPandas).
    """

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        *,
        id_col: str = "doc_id",
        map_fn: MapFn | None = None,
        group_cols: Sequence[str],
        agg_exprs: Sequence[Column] | None = None,
        reduce_fn: Callable | None = None,
        reduce_schema: str | None = None,
        n_key_spans: int = 64,
        n_doc_spans: int = 64,
        two_level: bool | None = None,
        n_sub_buckets: int = 8,
        migrate_span_hash: bool = False,
        auto_compact_files_per_span: int | None = 16,
    ):
        if (agg_exprs is None) == (reduce_fn is None):
            raise ValueError("exactly one of agg_exprs / reduce_fn required")
        if reduce_fn is not None and reduce_schema is None:
            raise ValueError("reduce_fn requires reduce_schema")
        if two_level and agg_exprs is None:
            raise ValueError("two_level requires agg_exprs")
        self.spark = spark
        self.store = store_path
        self.id_col = id_col
        self.map_fn = map_fn or (lambda df: df)
        self.group_cols = list(group_cols)
        self.agg_exprs = list(agg_exprs) if agg_exprs is not None else None
        self.reduce_fn = reduce_fn
        self.reduce_schema = reduce_schema
        # two_level=None (the default) auto-enables the materialized
        # reduce tree whenever the aggregates are provably closed under
        # re-reduction — the strictly better layout when legal (finals
        # re-reduce O(partials) instead of O(dirty-span rows); measured
        # delta in README). Reopening an existing store under auto mode
        # adopts the store's recorded layout instead.
        auto_two_level = two_level is None
        if auto_two_level:
            two_level = _rereduce_closed(self.agg_exprs)
        self.n_key_spans = n_key_spans
        self.n_doc_spans = n_doc_spans
        # Append-heavy ingest degrades ~linearly in accumulated sliver
        # files (measured: 60 insert batches -> 3,840 map slivers, the
        # NEXT batch 9.4s vs 1.6s compacted — tools/scale_compact.py),
        # so the engine self-compacts: after a batch commits, if the
        # map table averages >= this many files per span, fold map
        # slivers and drop superseded index entries. Crash-safe (same
        # manifest-swap commit as a batch), never changes results, and
        # deliberately does NOT vacuum — archived snapshots stay
        # readable (time travel) until an explicit vacuum(). None
        # disables (the measurement tool does, to expose the raw
        # degradation).
        self.auto_compact_files_per_span = auto_compact_files_per_span
        # Two-level mode materializes the reference's reduce tree
        # (Executer.cs:62,80-83: doc-bucketed partials below the final):
        # a ``reduce_l1`` table holds per-(kspan, doc-bucket) partial
        # aggregates; a batch recomputes partials only for buckets
        # holding changed docs and re-reduces the span's partials for
        # finals, so finals cost is O(dirty-bucket bytes + partials)
        # instead of O(dirty-span bytes). Contract (the reference's,
        # MapReduceTask.cs:10): ``agg_exprs`` must be closed under
        # re-application to their own aliased output (e.g.
        # sum("cnt").alias("cnt"); count(*) is NOT — emit 1s and sum).
        self.two_level = two_level
        self.n_sub_buckets = n_sub_buckets
        # map_results is physically partitioned by the (key-span x
        # doc-bucket) PAIR — the reference's MapResults/<key>/<bucket>/
        # granularity (Executer.cs:167). The pair, not the key-span, is
        # the copy-on-write rewrite unit: with few giant groups (the
        # reference demo has two!), a key-span holds a whole group and
        # span-grained rewrite would amplify a 100-doc upsert into an
        # O(group) rewrite; pair-grained rewrite is bounded by
        # corpus/(n_key_spans * n_sub_buckets) regardless of key
        # cardinality.
        self._map_t = ManifestTable(
            os.path.join(store_path, "map_results"), "pspan"
        )
        self._idx_t = ManifestTable(
            os.path.join(store_path, "doc_index"), "dspan"
        )
        self._l1_t = ManifestTable(
            os.path.join(store_path, "reduce_l1"), "kspan"
        )
        self._fin_t = ManifestTable(
            os.path.join(store_path, "final_results"), "kspan"
        )
        self._meta_path = os.path.join(store_path, "meta.json")
        self._journal_path = os.path.join(store_path, "journal.json")
        # Layout parameters are *store* properties, not constructor
        # preferences: span assignment is baked into every persisted
        # kspan/dspan/bucket value, so reopening an existing store
        # silently adopts its recorded layout (constructor args only
        # seed a brand-new store). Changing span counts on a live store
        # is an explicit resharding — see :meth:`rescale`.
        stored = self._meta()
        self._needs_rehash = False
        if "layout" in stored:
            lay = stored["layout"]
            if auto_two_level:
                two_level = bool(lay["two_level"])
                self.two_level = two_level
            elif bool(lay["two_level"]) != bool(two_level):
                raise ValueError(
                    f"store at {store_path} was built with "
                    f"two_level={lay['two_level']}; reopen with the same "
                    "mode (the reduce_l1 table is part of the layout)"
                )
            self.n_key_spans = lay["n_key_spans"]
            self.n_doc_spans = lay["n_doc_spans"]
            self.n_sub_buckets = lay["n_sub_buckets"]
            # Task identity must match the store's: every persisted row
            # is keyed by (id_col, group_cols) values, so a different
            # task definition silently reads/writes garbage. (Layouts
            # written before this key existed skip the check; the next
            # committed batch records it.)
            for key, mine in (
                ("group_cols", self.group_cols),
                ("id_col", self.id_col),
            ):
                if key in lay and lay[key] != mine:
                    raise ValueError(
                        f"store at {store_path} was built with "
                        f"{key}={lay[key]!r}; this task declares "
                        f"{mine!r} — open the store with its own task "
                        "definition or build a new store"
                    )
            # Layouts written before span-hash versioning used
            # xxhash64; absence of the key means the legacy hash, not
            # the current one — treating it as current would silently
            # mis-route every span lookup.
            if lay.get("span_hash", "xxhash64-v0") != self._SPAN_HASH:
                if not migrate_span_hash:
                    raise ValueError(
                        f"store at {store_path} uses span hash "
                        f"{lay.get('span_hash', 'xxhash64-v0')}; this "
                        f"engine build writes {self._SPAN_HASH} — reopen "
                        "with migrate_span_hash=True to rebuild the span "
                        "assignment in place (spans are derived data)"
                    )
                self._needs_rehash = True
        self._recover()
        if self._needs_rehash:
            # Same journaled, crash-safe rebuild a rescale uses: spans
            # are derived from the group columns / uids, so rebuilding
            # under the new hash is deterministic and replayable.
            self.rescale()

    # Versions the derived physical layout: the key-span hash, the doc
    # hash, AND the map table's pair partitioning. Bump on any change
    # to how span columns are derived; migrate_span_hash=True rebuilds
    # in place.
    _SPAN_HASH = "crc32key-xxdoc-pmod-v4"

    def _map_pspans(self, kspans: set[int]) -> set[int]:
        """The map table's physical pairs belonging to ``kspans``
        (manifest keys are pspans = kspan * n_sub_buckets + bucket)."""
        return {
            p
            for p in self._map_t.spans()
            if p // self.n_sub_buckets in kspans
        }

    def _layout(self) -> dict:
        return {
            "n_key_spans": self.n_key_spans,
            "n_doc_spans": self.n_doc_spans,
            "n_sub_buckets": self.n_sub_buckets,
            "two_level": self.two_level,
            "span_hash": self._SPAN_HASH,
            # task identity: persisted rows are keyed by these, so a
            # reopen under a different task must fail loudly instead of
            # silently mixing incompatible data
            "group_cols": self.group_cols,
            "id_col": self.id_col,
        }

    # ----- span expressions ------------------------------------------------

    def _kspan(self, *cols: Column | str) -> Column:
        # Portable span hash: crc32 over the '\x1f'-joined string forms
        # of the key columns. crc32 (not xxhash64) so the *driver* can
        # compute a key's span in pure Python (zlib.crc32 is the same
        # function) — point lookups and drop_key then need no Spark job
        # to locate the span, and query_local() can serve a key without
        # any Spark job at all (the reference's Query IS a local file
        # read, Executer.cs:370-376).
        cols = cols or [F.col(c) for c in self.group_cols]
        joined = F.concat_ws("\x1f", *[F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols])
        return F.pmod(F.crc32(joined), F.lit(self.n_key_spans)).cast("int")

    def _span_of(self, key_values) -> int:
        """Driver-side twin of :meth:`_kspan` for literal key values.
        Python ``str()`` matches Spark's cast-to-string only for str
        and int keys (Spark renders doubles Java-style — ``1.0E7`` —
        and booleans lowercase), so any other type falls back to
        computing the span through a one-row Spark expression: always
        correct, just not job-free."""
        if all(v is None or isinstance(v, (str, int)) and not isinstance(v, bool) for v in key_values):
            # concat_ws drops NULL operands (and their separators)
            joined = "\x1f".join(str(v) for v in key_values if v is not None)
            return zlib.crc32(joined.encode("utf-8")) % self.n_key_spans
        return (
            self.spark.range(1)
            .select(self._kspan(*[F.lit(v) for v in key_values]).alias("s"))
            .first()
            .s
        )

    def _dspan(self, uid_column: Column) -> Column:
        # Case-insensitive stable doc span (the reference's bucket role,
        # Executer.cs:295-303, over the upper-cased uid).
        return F.pmod(
            _doc_hash(uid_column), F.lit(self.n_doc_spans)
        ).cast("int")

    def _uid(self, id_column: Column) -> Column:
        return F.upper(id_column.cast("string"))

    def _bucket(self, uid_column: Column) -> Column:
        # Fine-grained doc bucket inside a key-span (two-level mode):
        # the reference's leaf bucket role (Executer.cs:295-303).
        return F.pmod(
            _doc_hash(uid_column), F.lit(self.n_sub_buckets)
        ).cast("int")

    @staticmethod
    def _pair_pred(pairs_by_span: dict[int, list[int]]) -> Column:
        """Predicate selecting the dirty (kspan, bucket) pairs as an OR
        of per-span conjunctions — used to split reduce_l1 survivors
        from recomputed partials; plain column comparisons, so it
        pushes into the parquet read of the L1 files."""
        return functools.reduce(
            operator.or_,
            [
                (F.col("kspan") == s) & F.col("bucket").isin(bs)
                for s, bs in pairs_by_span.items()
            ],
        )

    # ----- maintenance job sizing ------------------------------------------

    # Target rows / on-disk bytes per maintenance shuffle partition:
    # view-state rows are narrow (key + aggregate columns), so ~250k
    # rows is a few MB — small enough to aggregate in-core, big enough
    # that task overhead doesn't dominate; the byte form sizes the
    # survivor-rewrite phase from the dirty pairs' actual file sizes.
    # The floor keeps a handful of tasks in flight even for tiny
    # batches: 1-partition plans serialize the survivor rewrite and the
    # per-span file writes behind a single core.
    _ROWS_PER_PARTITION = 250_000
    _BYTES_PER_PARTITION = 64 * 1024 * 1024
    _MIN_PARTITIONS = 8

    def _size_partitions(self, rows: int, file_bytes: int = 0) -> int:
        return max(
            self._MIN_PARTITIONS,
            math.ceil(rows / self._ROWS_PER_PARTITION),
            math.ceil(file_bytes / self._BYTES_PER_PARTITION),
        )

    def _hint_partitions(self) -> int | None:
        """Up-front sizing hint for the batch's *probe phase*: the
        previous batch's observed dirty-slice rows (meta). Safe for the
        probe at any true batch size — the probe is a distinct over
        span/bucket ids whose map-side partial aggregation reduces any
        input to a few thousand rows before the shuffle, so a small
        reducer count never bottlenecks it. The *heavy* phase is sized
        from the current batch + dirty-pair file bytes instead (see
        ``_apply_rest``)."""
        last = self._meta().get("last_batch_rows")
        if last is not None:
            return self._size_partitions(last)
        return None

    @staticmethod
    def _mapping_rows(table: ManifestTable, mapping: dict) -> int:
        """Exact row count of a write_data mapping's files from their
        parquet footers — driver-side metadata, no Spark job (the
        counting job this replaces was ~120 ms of pure dispatch per
        batch at bench scale)."""
        import pyarrow.parquet as pq

        return int(
            sum(
                pq.ParquetFile(os.path.join(table.path, f)).metadata.num_rows
                for fs in mapping.values()
                for f in fs
            )
        )

    def _span_file_bytes(self, table: ManifestTable, spans) -> int:
        """On-disk bytes of ``spans``' files per the current manifest —
        driver-side metadata only, no Spark job."""
        mapping = table.spans()
        return sum(
            os.path.getsize(os.path.join(table.path, f))
            for s in spans
            for f in mapping.get(s, [])
            if os.path.exists(os.path.join(table.path, f))
        )

    # ----- journal / meta --------------------------------------------------

    def _meta(self) -> dict:
        if os.path.exists(self._meta_path):
            with open(self._meta_path) as f:
                return json.load(f)
        return {"batch_seq": 0}

    def _write_meta(self, meta: dict) -> None:
        os.makedirs(self.store, exist_ok=True)
        tmp = self._meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({**meta, "layout": self._layout()}, f)
        os.replace(tmp, self._meta_path)

    def _write_journal(
        self, dirty_kspans: Sequence[int], extra: dict | None = None
    ) -> None:
        os.makedirs(self.store, exist_ok=True)
        tmp = self._journal_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"kspans": sorted(dirty_kspans), **(extra or {})}, f)
        os.replace(tmp, self._journal_path)

    def _recover(self) -> None:
        """Converge downstream tables after a crashed ``execute`` or
        ``rescale``: a batch journal names the key-spans whose finals
        (and L1) may be stale relative to committed map_results —
        re-aggregate exactly those spans from the source of truth and
        re-publish. A rescale journal records the target layout —
        re-run the full rebuild (span assignment is derived from the
        group columns, so the rebuild is deterministic no matter which
        tables the crash had already committed). Both are idempotent —
        a crash *during* recovery just reruns it."""
        if not os.path.exists(self._journal_path):
            return
        with open(self._journal_path) as f:
            j = json.load(f)
        if "rescale_layout" in j:
            self._adopt_layout(j["rescale_layout"])
            self._rebuild_all()
            self._write_meta(self._meta())
            os.remove(self._journal_path)
            return
        if "alter_two_level" in j:
            # A crashed (or in-flight) alter_reduce: the journaled mode
            # wins over whatever layout the store recorded, and the
            # reduce definitions come from the live object — the
            # alter's own call frame, or on reopen the constructor
            # args, which the alter_reduce contract requires to be the
            # NEW reduce. Persist the corrected layout and drop L1
            # partials if the mode fell to single-level, then fall
            # through to the ordinary per-span re-aggregation.
            self.two_level = bool(j["alter_two_level"])
            self._write_meta(self._meta())
            if not self.two_level:
                stale_l1 = set(self._l1_t.spans())
                if stale_l1:
                    self._l1_t.commit(drop=stale_l1)
        dirty = set(j["kspans"])
        content = self._map_t.read(self.spark, spans=self._map_pspans(dirty))
        if content is None:
            if self.two_level:
                self._l1_t.commit(drop=dirty)
            self._fin_t.commit(drop=dirty)
        else:
            if self.two_level:
                l1 = content.groupBy(
                    "kspan", "bucket", *self.group_cols
                ).agg(*self.agg_exprs)
                l1_map = self._l1_t.write_data(l1)
                self._l1_t.commit(
                    replace=l1_map, drop=dirty - set(l1_map)
                )
                fin_map = self._write_finals_from_l1(l1_map, self.spark)
            else:
                if self.agg_exprs is not None:
                    finals = content.groupBy("kspan", *self.group_cols).agg(
                        *self.agg_exprs
                    )
                else:
                    finals = content.groupBy(
                        "kspan", *self.group_cols
                    ).applyInPandas(
                        self.reduce_fn,
                        schema=f"kspan int, {self.reduce_schema}",
                    )
                fin_map = self._fin_t.write_data(finals)
            self._fin_t.commit(replace=fin_map, drop=dirty - set(fin_map))
        os.remove(self._journal_path)

    # ----- write path (Execute — reference Executer.cs:31-45) -------------

    def execute(self, batch_df: DataFrame) -> None:
        """Apply one batch of document upserts and re-materialize the
        aggregates of every dirty key-span."""
        ids = (
            batch_df.select(self._uid(F.col(self.id_col)).alias("uid"))
            .distinct()
        )
        mapped = self.map_fn(batch_df)
        missing = {self.id_col, *self.group_cols} - set(mapped.columns)
        if missing:
            raise ValueError(f"map output missing columns: {sorted(missing)}")
        clash = _RESERVED_COLS & set(mapped.columns)
        if clash:
            raise ValueError(
                f"map output uses reserved engine column names {sorted(clash)}"
                " — rename them (they carry the span bookkeeping)"
            )
        # One doc-hash evaluation serves both derived columns (bucket
        # and dspan are different moduli of the same hash).
        mapped = mapped.withColumn("uid", self._uid(F.col(self.id_col)))
        mapped = mapped.withColumn("kspan", self._kspan())
        mapped = (
            mapped.withColumn("__dh", _doc_hash(F.col("uid")))
            .withColumn(
                "bucket",
                F.pmod(F.col("__dh"), F.lit(self.n_sub_buckets)).cast("int"),
            )
            .withColumn(
                "dspan",
                F.pmod(F.col("__dh"), F.lit(self.n_doc_spans)).cast("int"),
            )
            .drop("__dh")
        )
        mapped = mapped.withColumn(
            "pspan",
            F.col("kspan") * F.lit(self.n_sub_buckets) + F.col("bucket"),
        )
        self._apply(ids, mapped, src_width=_plan_width(batch_df))
        self._maybe_auto_compact()

    def _maybe_auto_compact(self) -> None:
        """Self-compaction after a committed batch: when the map table
        averages ``auto_compact_files_per_span`` files per span, fold
        slivers and drop superseded index entries (manifest reads only
        — no Spark job — decide the trigger)."""
        k = self.auto_compact_files_per_span
        if not k:
            return
        mapping = self._map_t.spans()
        n_spans = len(mapping)
        n_files = sum(len(v) for v in mapping.values())
        if n_spans and n_files >= k * n_spans:
            self.compact_map(min_files=2)
            self.compact_index()

    def delete_docs(self, ids) -> None:
        """Explicitly delete documents: remove each id's map output
        everywhere and re-aggregate the dirty spans — the upsert path's
        delete-and-reschedule (Executer.cs:240-261) without replacement
        rows. The reference only ever deletes on re-submission; an
        updatable store needs the delete itself. ``ids`` is a list of
        id values or a DataFrame holding ``id_col``. Ids match
        case-insensitively, like upserts; unknown ids are no-ops.

        (Index entries for deleted docs are left behind deliberately —
        a stale *extra* entry only over-dirties a later batch, and
        ``compact_index()`` clears them — so deletion is exactly an
        upsert whose map output is empty.)"""
        existing = self._map_t.read(self.spark)
        if existing is None:
            return  # nothing stored, nothing to delete
        if isinstance(ids, DataFrame):
            ids_df = ids.select(
                self._uid(F.col(self.id_col)).alias("uid")
            ).distinct()
        else:
            ids_df = self.spark.createDataFrame(
                [(str(v),) for v in ids], "id string"
            ).select(self._uid(F.col("id")).alias("uid"))
        empty_mapped = self.spark.createDataFrame([], schema=existing.schema)
        self._apply(ids_df, empty_mapped)

    def _apply(
        self,
        ids: DataFrame,
        mapped: DataFrame,
        src_width: int | None = None,
    ) -> None:
        """Shared core of execute/delete_docs: ``ids`` = upper-cased
        distinct doc ids of the batch, ``mapped`` = the batch's new map
        output (already uid/kspan[/bucket]-stamped; empty = deletion).
        Unpersists every cached plan on all exits (a failed batch must
        not leak executor memory; its files are unreferenced and its
        journal replays on reopen)."""
        cached: list[DataFrame] = []

        def cache(df: DataFrame) -> DataFrame:
            df.cache()
            cached.append(df)
            return df

        try:
            self._apply_inner(ids, mapped, cache, src_width)
        finally:
            for df in cached:
                df.unpersist()

    def _apply_inner(
        self,
        ids: DataFrame,
        mapped: DataFrame,
        cache: Callable[[DataFrame], DataFrame],
        src_width: int | None = None,
    ) -> None:
        # Size the batch's CACHED PLANS from its scan width —
        # driver-side plan metadata, no job. A cache() captures its
        # physical plan under the conf of the frame it is registered
        # from, so registering on the session's full-width AQE conf
        # makes every later right-sized action that materializes the
        # cache replay a 3-job AQE stage cascade for a few thousand
        # rows. A 100 TB batch's wide scan keeps the session's
        # full-parallelism AQE plan (guide §2.2: size partitions from
        # the data, not a constant).
        batch_n = (
            None if src_width is None
            else max(self._MIN_PARTITIONS, src_width)
        )
        bs = maintenance_session(self.spark, batch_n)
        ids = cache(on_session(ids, bs))
        # The mapped batch feeds several downstream plans (span
        # discovery, map_results content, doc_index content); batches
        # are bounded, so caching beats recomputing the user map.
        mapped = cache(on_session(mapped, bs))

        # --- bootstrap fast path: a completely fresh store cannot hold
        # prior versions of any incoming doc, so the whole invalidation
        # protocol (probe, doc_index lookup, survivor rewrite) is
        # provably a no-op — write everything, derive the dirty spans
        # from the write mappings themselves.
        if not self._map_t.spans() and not self._idx_t.spans():
            self._bootstrap(mapped, bs)
            return

        # --- dirty sets (reference: ScheduleReduction, Executer.cs:115-151)
        # One probe job discovers the batch's footprint — the mapped
        # batch's new (kspan, bucket) pairs AND the ids' doc-spans —
        # then the doc_index lookup reads only those doc-spans' files
        # (the manifest-pruned equivalent of the reference's
        # delete-and-reschedule, Executer.cs:240-261, without its
        # full-corpus scan) and a second tiny job collects the replaced
        # docs' old key-spans (and, two-level, doc buckets). When the
        # whole doc_index is small (manifest byte stats, no job), the
        # lookup is folded INTO the probe — one collect instead of two;
        # the two-phase pruned path remains the at-scale plan.
        bucket_of = self._bucket(F.col("uid"))
        ps = maintenance_session(self.spark, self._hint_partitions())
        small_idx = self._idx_t.stats()["bytes"] < self._SMALL_INDEX_BYTES
        idx_all = self._idx_t.read(ps) if small_idx else None
        new_kspans: set[int] = set()
        old_kspans: set[int] = set()
        new_pspans: set[int] = set()
        old_pspans: set[int] = set()
        batch_dspans: set[int] = set()
        # The probe (and the pruned index lookup in _apply_rest) is
        # distinct-over-span-ids work: map-side partial aggregation
        # reduces ANY input size to a few thousand rows before the
        # shuffle, so sizing it by the previous batch's hint is safe
        # even when this batch is much larger. The heavy phase below is
        # sized from THIS batch + the dirty pairs' file bytes.
        # groupBy+count instead of distinct: identical shuffle shape
        # (map-side partial aggregation over a few thousand distinct
        # tuples), but the counts measure the batch for free — the 'k'
        # rows sum to the mapped row count, so no separate count job.
        # The folded index lookup is hinted for the session that runs
        # the probe: shuffle-hash on a shrunken session, where the
        # at-scale broadcast build would be a separate dispatch-only
        # job per batch (r12 advice item 3).
        ids_d = ids.withColumn("dspan", self._dspan(F.col("uid")))
        probe = on_session(mapped, ps).select(
            F.lit("k").alias("t"),
            F.col("kspan").alias("v"),
            F.col("bucket").alias("b"),
        )
        if idx_all is not None:
            probe = probe.unionByName(
                idx_all.join(
                    maint_small_side(ids_d, ps), ["dspan", "uid"], "inner"
                ).select(
                    F.lit("o").alias("t"),
                    F.col("kspan").alias("v"),
                    bucket_of.alias("b"),
                )
            )
        else:
            # Two-phase path only: the ids' doc-spans drive the pruned
            # doc_index read in _apply_rest. With the lookup folded
            # above, batch_dspans is never consulted — skip the branch
            # (one fewer probe input scan).
            probe = probe.unionByName(
                ids_d.select(
                    F.lit("d").alias("t"),
                    F.col("dspan").alias("v"),
                    F.lit(0).alias("b"),
                )
            )
        probe_rows = probe.groupBy("t", "v", "b").agg(
            F.count(F.lit(1)).alias("c")
        ).collect()
        n_mapped = 0
        for r in probe_rows:
            if r.t == "d":
                batch_dspans.add(r.v)
            else:
                if r.t == "k":
                    n_mapped += r.c
                tgt = (new_kspans, new_pspans) if r.t == "k" else (
                    old_kspans, old_pspans
                )
                tgt[0].add(r.v)
                tgt[1].add(r.v * self.n_sub_buckets + r.b)
        self._apply_rest(
            ids, mapped, cache, new_kspans, old_kspans, new_pspans,
            old_pspans, batch_dspans, bucket_of, ids_d, ps,
            n_mapped=n_mapped,
            lookup_done=idx_all is not None,
        )

    # Fold the doc_index lookup into the probe when the whole index is
    # under this many bytes: reading a few extra small files costs less
    # than a second driver round-trip job.
    _SMALL_INDEX_BYTES = 64 * 1024 * 1024

    def _write_finals_from_l1(
        self, l1_map: dict[int, list[str]], spark: SparkSession
    ) -> dict[int, list[str]]:
        """Two-level finals: re-reduce the L1 files a just-finished
        write job landed (uncommitted but on disk — write_data returns
        their paths). Reading the tiny columnar partial state back
        beats caching the L1 plan and racing concurrent consumers over
        it: one fewer job, no executor cache, and the read is exactly
        the partial-reduce tree the store persists anyway."""
        files = [
            os.path.join(self._l1_t.path, f)
            for fs in l1_map.values()
            for f in fs
        ]
        if not files:
            return {}
        finals = (
            spark.read.parquet(*files)
            .groupBy("kspan", *self.group_cols)
            .agg(*self.agg_exprs)
        )
        return self._fin_t.write_data(finals)

    def _bootstrap(self, mapped: DataFrame, spark: SparkSession) -> None:
        """First batch into an empty store: the map write runs first
        (one job — it materializes the cached batch for the index/
        finals consumers, and its footer metadata says whether the
        batch mapped to anything, replacing the r12 up-front count
        job), then the index and finals/L1 writes run concurrently;
        the journal (derived from the write mappings) precedes the
        first commit, so crash recovery converges exactly as in the
        general path. ``mapped`` is bound to ``spark``, the session the
        batch's writes run on."""
        meta = self._meta()
        data_cols = [c for c in mapped.columns if c != "pspan"]
        new_rows = mapped.select(*data_cols, F.col("pspan"))
        results: dict[str, dict[int, list[str]]] = {}
        results["map"] = self._map_t.write_data(new_rows)
        n_mapped = self._mapping_rows(self._map_t, results["map"])
        if n_mapped == 0:
            self._write_meta({**meta, "batch_seq": meta["batch_seq"] + 1})
            return
        l1_content = None
        finals = None
        if self.two_level:
            # Finals re-reduce the L1 files after the l1 write lands
            # (_write_finals_from_l1) — no cache, no racing writers.
            l1_content = mapped.groupBy(
                "kspan", "bucket", *self.group_cols
            ).agg(*self.agg_exprs)
        else:
            # Finals re-reduce the just-written map files (tiny,
            # page-cache-warm, columnar) — same shape as the two-level
            # finals' L1 re-read; no dependency on the batch cache.
            files = [
                os.path.join(self._map_t.path, f)
                for fs in results["map"].values()
                for f in fs
            ]
            content = spark.read.schema(self._map_t._schema).parquet(*files)
            if self.agg_exprs is not None:
                finals = content.groupBy("kspan", *self.group_cols).agg(
                    *self.agg_exprs
                )
            else:
                finals = content.groupBy(
                    "kspan", *self.group_cols
                ).applyInPandas(
                    self.reduce_fn, schema=f"kspan int, {self.reduce_schema}"
                )
        new_idx = mapped.select("uid", "kspan", "dspan").distinct()
        errors: dict[str, BaseException] = {}

        def _run(name: str, fn: Callable[[], dict[int, list[str]]]) -> None:
            try:
                results[name] = fn()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors[name] = e

        jobs = [
            ("idx", lambda: self._idx_t.write_data(new_idx)),
        ]
        if finals is not None:
            jobs.append(("fin", lambda: self._fin_t.write_data(finals)))
        if l1_content is not None:
            jobs.append(("l1", lambda: self._l1_t.write_data(l1_content)))
        threads = [
            threading.Thread(target=_run, args=(n, fn), daemon=True)
            for n, fn in jobs
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise next(iter(errors.values()))
        if self.two_level:
            results["fin"] = self._write_finals_from_l1(results["l1"], spark)
        dirty_kspans = {
            p // self.n_sub_buckets for p in results["map"]
        } | set(results["fin"])
        self._write_journal(sorted(dirty_kspans))
        self._idx_t.commit(append=results["idx"])
        self._map_t.commit(append=results["map"])
        if l1_content is not None:
            self._l1_t.commit(replace=results["l1"])
        self._fin_t.commit(replace=results["fin"])
        os.remove(self._journal_path)
        self._write_meta(
            {
                **meta,
                "batch_seq": meta["batch_seq"] + 1,
                "last_batch_rows": int(n_mapped),
            }
        )

    def _apply_rest(
        self,
        ids: DataFrame,
        mapped: DataFrame,
        cache: Callable[[DataFrame], DataFrame],
        new_kspans: set[int],
        old_kspans: set[int],
        new_pspans: set[int],
        old_pspans: set[int],
        batch_dspans: set[int],
        bucket_of: Column,
        ids_d: DataFrame,
        ps: SparkSession,
        n_mapped: int = 0,
        lookup_done: bool = False,
    ) -> None:
        meta = self._meta()
        idx = (
            None
            if lookup_done
            else self._idx_t.read(ps, spans=batch_dspans)
        )
        if idx is not None:
            # Distinct-over-span-ids like the probe: safe on the probe
            # session (the previous batch's sizing hint) at any batch
            # size, and hinted for that session (r12 advice item 3).
            old_locs = idx.join(
                maint_small_side(ids_d, ps), ["dspan", "uid"], "inner"
            )
            old_rows = (
                old_locs.select(
                    F.col("kspan").alias("v"), bucket_of.alias("b")
                )
                .distinct()
                .collect()
            )
            for r in old_rows:
                old_kspans.add(r.v)
                old_pspans.add(r.v * self.n_sub_buckets + r.b)
        dirty_kspans = new_kspans | old_kspans
        dirty_pspans = new_pspans | old_pspans
        if not dirty_kspans:
            # Batch mapped to nothing and replaced nothing: no index
            # entries exist for these ids (old_kspans empty) — nothing
            # to do.
            self._write_meta({**meta, "batch_seq": meta["batch_seq"] + 1})
            return

        # Journal before any write: a crash anywhere below leaves
        # either a no-op recovery (nothing committed yet) or the
        # converging recompute described in the module docstring.
        self._write_journal(sorted(dirty_kspans))

        # Heavy phase — survivor rewrite, re-aggregation, data-file
        # writes — sized from THIS batch plus the dirty key-spans' map
        # file bytes (driver-side manifest metadata): a large batch
        # after a small one gets full parallelism, and a small batch
        # over a big dirty slice gets enough reducers for the rewrite.
        heavy_n = self._size_partitions(
            n_mapped,
            file_bytes=self._span_file_bytes(
                self._map_t, self._map_pspans(dirty_kspans)
            ),
        )
        hs = maintenance_session(self.spark, heavy_n)
        # --- classify dirty pairs
        # (reference: PersistMap + delete of replaced docs,
        # Executer.cs:165-183, 258 — its MapResults/<key>/<bucket>/
        # tree is exactly this granularity)
        #
        #   rewrite pairs = pairs holding a replaced doc ("o"-tagged
        #     via the index; the index never loses an entry, so a pair
        #     absent from ``old_pspans`` provably holds no prior
        #     version of any incoming doc) — survivors must be
        #     filtered out, so the pair's file set is replaced.
        #   every other dirty pair only gains brand-new rows: an
        #     O(batch) *append* of new files. Rewrite amplification is
        #     therefore bounded by the doc-bucket — a small upsert into
        #     a giant group rewrites corpus/(n_key_spans*n_sub_buckets)
        #     bytes, never O(group) — and insert-heavy ingest (the
        #     dominant 100 TB regime) pays no rewrite at all.
        all_pspans = set(self._map_t.spans())
        rewrite_pspans = old_pspans & all_pspans  # stale entries: no files
        append_pspans = new_pspans - rewrite_pspans
        data_cols = [c for c in mapped.columns if c != "pspan"]
        new_rows = on_session(mapped, hs).select(*data_cols, F.col("pspan"))
        existing_dirty = self._map_t.read(
            hs, spans=dirty_pspans & all_pspans
        )
        if existing_dirty is not None:
            survivors = existing_dirty
            if rewrite_pspans:
                survivors = survivors.join(
                    maint_small_side(ids, hs), "uid", "left_anti"
                )
            pair_rows = survivors.select(new_rows.columns).unionByName(new_rows)
        else:
            pair_rows = new_rows
        # Two-level mode consumes ``pair_rows`` twice (the map write
        # and the L1 partial recompute) — cache it so the second
        # consumer reads columnar cache, populated by whichever job
        # scans it first. Single-level consumes it exactly ONCE (the
        # map write; finals re-reduce the just-written files below),
        # so there is no cache and no materializing count job —
        # the r12 ``pair_rows.count()`` is gone (guide §1.2).
        if self.two_level:
            cache(pair_rows)

        # --- re-aggregate only dirty state
        # (reference: ExecuteReduce over scheduled spans,
        # Executer.cs:47-85). Two-level: the reduce tree is
        # *materialized* — the dirty pairs' partials recompute from
        # ``pair_rows`` (already exactly the dirty pairs' data: the
        # manifest pruned the read to those files) and finals re-reduce
        # the span's partials (the reference's BucketId/BatchSize
        # grouping, Executer.cs:62, with strictly finer dirty
        # granularity). Single-level: Catalyst's partial+final
        # HashAggregate is the reduce tree, re-run over the dirty
        # key-spans' FILES — the just-written replacement/append files
        # plus the spans' retained committed files — exactly like the
        # two-level finals re-reduce the just-written L1 files
        # (_write_finals_from_l1): reading tiny page-cache-warm
        # columnar state back beats a cache + materializing count.
        l1_content = None
        if self.two_level:
            pairs_by_span: dict[int, list[int]] = {}
            for p in sorted(dirty_pspans):
                pairs_by_span.setdefault(p // self.n_sub_buckets, []).append(
                    p % self.n_sub_buckets
                )
            dirty_pred = self._pair_pred(pairs_by_span)
            l1_existing = self._l1_t.read(hs, spans=dirty_kspans)
            recomputed = pair_rows.groupBy(
                "kspan", "bucket", *self.group_cols
            ).agg(*self.agg_exprs)
            if l1_existing is not None:
                l1_surv = l1_existing.filter(~dirty_pred)
                l1_content = l1_surv.select(recomputed.columns).unionByName(
                    recomputed
                )
            else:
                l1_content = recomputed

        # --- write the map table FIRST (one job covers the whole
        # table: append pairs land only the batch's new rows,
        # rewrite pairs land their full replacement content —
        # survivors + batch; the two slices are disjoint by pspan,
        # and the commit splits the mapping by pair class). Running
        # it before the finals lets the finals re-reduce the
        # written files; in two-level mode it also materializes the
        # pair_rows cache for the L1 recompute. (NB ``pair_rows``
        # also holds existing rows of append-class pairs — read for
        # the re-aggregation — which must NOT be rewritten, hence
        # the slice-and-union rather than writing ``pair_rows``.)
        map_write_pspans = append_pspans | rewrite_pspans
        slices = []
        if rewrite_pspans:
            slices.append(
                pair_rows.filter(F.col("pspan").isin(sorted(rewrite_pspans)))
            )
        if append_pspans:
            slices.append(
                new_rows.filter(F.col("pspan").isin(sorted(append_pspans)))
            )
        map_rows = slices[0] if len(slices) == 1 else (
            slices[0].unionByName(slices[1]) if slices else None
        )
        results: dict[str, dict[int, list[str]]] = {}
        results["map"] = (
            self._map_t.write_data(map_rows) if map_write_pspans else {}
        )

        # Single-level finals: re-reduce the dirty key-spans' map
        # FILES — the files the write above just landed plus the
        # spans' retained (non-rewritten) committed files.
        finals = None
        if not self.two_level:
            retained_pspans = {
                p
                for p in all_pspans
                if p // self.n_sub_buckets in dirty_kspans
            } - rewrite_pspans
            pieces = []
            new_files = [
                os.path.join(self._map_t.path, f)
                for fs in results["map"].values()
                for f in fs
            ]
            if new_files:
                pieces.append(
                    hs.read.schema(self._map_t._schema)
                    .parquet(*new_files)
                    .select(new_rows.columns)
                )
            retained = self._map_t.read(hs, spans=retained_pspans)
            if retained is not None:
                pieces.append(retained.select(new_rows.columns))
            if pieces:
                content = (
                    pieces[0]
                    if len(pieces) == 1
                    else pieces[0].unionByName(pieces[1])
                )
                if self.agg_exprs is not None:
                    finals = content.groupBy(
                        "kspan", *self.group_cols
                    ).agg(*self.agg_exprs)
                else:
                    finals = content.groupBy(
                        "kspan", *self.group_cols
                    ).applyInPandas(
                        self.reduce_fn,
                        schema=f"kspan int, {self.reduce_schema}",
                    )

        # --- remaining data-file writes run concurrently
        # (invisible until commit): the doc-index write and the
        # finals (single-level) or L1 partials (two-level) write
        # are independent jobs on concurrent driver threads.
        new_idx = new_rows.select("uid", "kspan", "dspan").distinct()
        errors: dict[str, BaseException] = {}

        def _run(name: str, fn: Callable[[], dict[int, list[str]]]) -> None:
            try:
                results[name] = fn()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors[name] = e

        jobs: list[tuple[str, Callable[[], dict[int, list[str]]]]] = [
            ("idx", lambda: self._idx_t.write_data(new_idx)),
        ]
        if finals is not None:
            jobs.append(("fin", lambda: self._fin_t.write_data(finals)))
        if l1_content is not None:
            jobs.append(("l1", lambda: self._l1_t.write_data(l1_content)))
        threads = [
            threading.Thread(target=_run, args=(n, fn), daemon=True)
            for n, fn in jobs
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise next(iter(errors.values()))
        if self.two_level:
            results["fin"] = self._write_finals_from_l1(results["l1"], hs)
        results.setdefault("fin", {})

        # --- commit (atomic manifest swaps, dependency order; see
        # module docstring for why the index leads)
        self._idx_t.commit(append=results["idx"])
        map_files = results.get("map", {})
        map_rw = {s: fs for s, fs in map_files.items() if s in rewrite_pspans}
        map_app = {
            s: fs for s, fs in map_files.items() if s not in rewrite_pspans
        }
        self._map_t.commit(
            replace=map_rw,
            append=map_app,
            drop=rewrite_pspans - set(map_rw) - set(map_app),
        )
        if l1_content is not None:
            self._l1_t.commit(
                replace=results["l1"], drop=dirty_kspans - set(results["l1"])
            )
        self._fin_t.commit(
            replace=results["fin"], drop=dirty_kspans - set(results["fin"])
        )
        os.remove(self._journal_path)
        self._write_meta(
            {
                **meta,
                "batch_seq": meta["batch_seq"] + 1,
                # Sizes the next batch's maintenance jobs (see
                # _hint_partitions); the rows the map write landed —
                # exact from the written files' parquet footers,
                # driver-side, no job — are the best available
                # predictor of the next dirty slice.
                "last_batch_rows": self._mapping_rows(
                    self._map_t, results["map"]
                ),
            }
        )

    # ----- maintenance -----------------------------------------------------

    def stats(self) -> dict:
        """Operational snapshot of the store: per-table manifest
        version and file/byte/span counts — the numbers an operator
        watches to decide span-count resizing, index compaction, or
        vacuum cadence (no Spark job; manifest + file metadata)."""
        out: dict = {"batch_seq": self._meta()["batch_seq"]}
        for name, table in (
            ("map_results", self._map_t),
            ("doc_index", self._idx_t),
            ("reduce_l1", self._l1_t),
            ("final_results", self._fin_t),
        ):
            s = table.stats()
            if s["spans"]:
                out[name] = s
        return out

    def history(self) -> dict:
        """Per-table commit history, newest first (DESCRIBE HISTORY):
        version, commit time, span/file counts per committed snapshot
        — the audit trail behind ``final_df(version=N)`` time travel.
        Manifest metadata only; no Spark job."""
        out: dict = {}
        for name, table in (
            ("map_results", self._map_t),
            ("doc_index", self._idx_t),
            ("reduce_l1", self._l1_t),
            ("final_results", self._fin_t),
        ):
            h = table.history()
            if h:
                out[name] = h
        return out

    def vacuum(self, keep_versions: int = 0) -> int:
        """Reclaim unreferenced data files (crashed batches, replaced
        spans) and bound the manifest archive across all four tables.
        Returns files removed. Never required for correctness."""
        return sum(
            t.vacuum(keep_versions=keep_versions)
            for t in (self._map_t, self._idx_t, self._l1_t, self._fin_t)
        )

    def _adopt_layout(self, layout: dict) -> None:
        self.n_key_spans = layout["n_key_spans"]
        self.n_doc_spans = layout["n_doc_spans"]
        self.n_sub_buckets = layout["n_sub_buckets"]

    def _rebuild_all(self) -> None:
        """Re-derive every table from map_results under the *current*
        layout attributes: span columns are derived data (kspan from
        the group columns, dspan/bucket from the uid), so a full
        rebuild is deterministic and idempotent."""
        live = self._map_t.read(self.spark)
        if live is None:
            return
        drop_cols = [
            c for c in ("kspan", "bucket", "dspan", "pspan") if c in live.columns
        ]
        content = (
            live.drop(*drop_cols)
            .withColumn("kspan", self._kspan())
            .withColumn("__dh", _doc_hash(F.col("uid")))
            .withColumn(
                "bucket",
                F.pmod(F.col("__dh"), F.lit(self.n_sub_buckets)).cast("int"),
            )
            .withColumn(
                "dspan",
                F.pmod(F.col("__dh"), F.lit(self.n_doc_spans)).cast("int"),
            )
            .drop("__dh")
            .withColumn(
                "pspan",
                F.col("kspan") * F.lit(self.n_sub_buckets) + F.col("bucket"),
            )
        )
        content.cache()
        self._map_t.commit(replace_all=self._map_t.write_data(content))
        fresh_idx = content.select(
            "uid", "kspan", self._dspan(F.col("uid")).alias("dspan")
        ).distinct()
        self._idx_t.commit(replace_all=self._idx_t.write_data(fresh_idx))
        if self.two_level:
            l1 = content.groupBy("kspan", "bucket", *self.group_cols).agg(
                *self.agg_exprs
            )
            l1.cache()
            self._l1_t.commit(replace_all=self._l1_t.write_data(l1))
            finals = l1.groupBy("kspan", *self.group_cols).agg(*self.agg_exprs)
        elif self.agg_exprs is not None:
            finals = content.groupBy("kspan", *self.group_cols).agg(
                *self.agg_exprs
            )
        else:
            finals = content.groupBy("kspan", *self.group_cols).applyInPandas(
                self.reduce_fn, schema=f"kspan int, {self.reduce_schema}"
            )
        self._fin_t.commit(replace_all=self._fin_t.write_data(finals))
        if self.two_level:
            l1.unpersist()
        content.unpersist()

    def rescale(
        self,
        *,
        n_key_spans: int | None = None,
        n_doc_spans: int | None = None,
        n_sub_buckets: int | None = None,
    ) -> None:
        """Online resharding: change the store's span counts (the
        rewrite and re-aggregation granularity) and rebuild every table
        under the new assignment. This is the grow-with-the-corpus
        lever at 100 TB — start with spans sized for today's data,
        ``rescale`` off-peak when ``stats()`` shows spans too large —
        and it is crash-safe like everything else: the target layout is
        journaled first, so a kill mid-rebuild replays the rebuild on
        reopen. Old files become unreferenced (``vacuum()``)."""
        new = self._layout()
        if n_key_spans is not None:
            new["n_key_spans"] = n_key_spans
        if n_doc_spans is not None:
            new["n_doc_spans"] = n_doc_spans
        if n_sub_buckets is not None:
            new["n_sub_buckets"] = n_sub_buckets
        os.makedirs(self.store, exist_ok=True)
        tmp = self._journal_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"rescale_layout": new}, f)
        os.replace(tmp, self._journal_path)
        self._adopt_layout(new)
        self._rebuild_all()
        self._write_meta(self._meta())
        os.remove(self._journal_path)

    def alter_reduce(
        self,
        *,
        agg_exprs: Sequence[Column] | None = None,
        reduce_fn: Callable | None = None,
        reduce_schema: str | None = None,
    ) -> None:
        """Swap the view's Reduce WITHOUT re-running Map: recompute the
        reduce tree (L1 partials where legal, finals always) from the
        persisted map_results — the reason the reference persists its
        map output at all (Executer.cs:80-83,165-183), exposed as the
        API the reference never grew. Changing an aggregate costs
        O(map rows re-aggregated), never a re-map of the corpus — at
        100 TB, adding a metric to a materialized view reads the
        (columnar, pruned) map table once instead of replaying every
        source document through Map.

        Crash-safe by reusing the batch recovery path: every live
        key-span plus the new mode is journaled FIRST (one atomic
        write), and all state transitions — layout persist, L1 drop,
        re-aggregation — happen inside the idempotent recovery branch.
        A kill anywhere mid-alter replays on reopen; construct the
        reopening view with the NEW reduce definition (the view
        object's reduce IS the store's). If the kill landed before the
        journal write, the store is untouched — call ``alter_reduce``
        again. Group columns are fixed (kspan assignment derives from
        them — changing the grouping is a different view, not an
        alter)."""
        if (agg_exprs is None) == (reduce_fn is None):
            raise ValueError("exactly one of agg_exprs / reduce_fn required")
        if reduce_fn is not None and reduce_schema is None:
            raise ValueError("reduce_fn requires reduce_schema")
        was_two_level = self.two_level
        self.agg_exprs = list(agg_exprs) if agg_exprs is not None else None
        self.reduce_fn = reduce_fn
        self.reduce_schema = reduce_schema
        # Never ESCALATE the layout on an alter: a store built (or
        # explicitly pinned) single-level stays single-level even when
        # the new aggregates would permit the reduce tree — flipping
        # two_level is a layout decision for rescale-class maintenance,
        # and silently enabling it would make the owner's next
        # same-args reopen fail the layout check. A two-level store
        # DOES fall to single-level when the new reduce is not closed
        # under re-application (the tree is meaningless without it).
        self.two_level = was_two_level and _rereduce_closed(self.agg_exprs)
        kspans = {
            p // self.n_sub_buckets for p in self._map_t.spans()
        }
        if not kspans:
            self._write_meta(self._meta())
            return
        self._write_journal(
            sorted(kspans), extra={"alter_two_level": self.two_level}
        )
        self._recover()

    def compact_map(self, min_files: int = 4) -> int:
        """Small-file compaction for append-heavy ingest: every
        insert-only batch appends one file per touched pair, so a pair
        accumulates files until its next copy-on-write rewrite. Rewrite
        each pair holding >= ``min_files`` files into one file.
        Results are unchanged; old files become
        unreferenced (reclaim via ``vacuum()``). Returns the number of
        pairs compacted. At 100 TB scale this is the maintenance job a
        table service would schedule off-peak."""
        # Right-sized like every other maintenance job: from the map
        # table's on-disk bytes (manifest metadata — an upper bound on
        # the rewrite's input), so a bench-scale compaction is one
        # static small plan instead of an AQE stage cascade, and a big
        # table keeps full parallelism.
        spark = maintenance_session(
            self.spark,
            self._size_partitions(0, file_bytes=self._map_t.stats()["bytes"]),
        )
        return self._map_t.compact(spark, min_files=min_files)[
            "spans_compacted"
        ]

    def compact_index(self) -> None:
        """Rewrite doc_index from the map_results source of truth,
        dropping stale entries (docs that moved key-spans). Run
        opportunistically — correctness never requires it; stale
        entries only over-dirty recomputation."""
        spark = maintenance_session(
            self.spark,
            self._size_partitions(
                0,
                file_bytes=self._map_t.stats()["bytes"]
                + self._idx_t.stats()["bytes"],
            ),
        )
        live = self._map_t.read(spark)
        if live is None:
            return
        fresh = live.select("uid", "kspan", "dspan").distinct()
        mapping = self._idx_t.write_data(fresh)
        self._idx_t.commit(replace_all=mapping)
        self._idx_t.vacuum()

    # ----- read path (Query — reference Executer.cs:370-376) --------------

    def final_df(self, version: int | None = None) -> DataFrame:
        """The whole materialized view (all groups). ``version`` reads
        an archived snapshot (time travel) — every committed manifest
        is retained until ``vacuum(keep_versions=...)`` trims it."""
        df = self._fin_t.read(self.spark, version=version)
        if df is None:
            raise ValueError(f"view at {self.store} has no materialized state")
        return df.drop("kspan")

    def query(self, *key_values) -> DataFrame:
        """Point lookup of one group's materialized row(s): the key's
        span is computed driver-side (portable crc32 — no Spark job)
        and only that span's files are read (manifest pruning); no
        recomputation; empty for unknown keys (Executer.cs:373-374
        semantics)."""
        span = self._span_of(key_values)
        out = self._fin_t.read(self.spark, spans=[span])
        if out is None:
            # Unknown span: keep the result schema identical to a hit
            # by deriving it from any committed finals (empty relation,
            # no rows read); a truly empty store falls back to the
            # group columns only.
            whole = self._fin_t.read(self.spark)
            if whole is not None:
                return whole.filter(F.lit(False)).drop("kspan")
            empty_schema = ", ".join(f"`{c}` string" for c in self.group_cols)
            return self.spark.createDataFrame([], schema=empty_schema)
        for col, val in zip(self.group_cols, key_values):
            out = out.filter(F.col(col) == val)
        return out.drop("kspan")

    def query_local(self, *key_values) -> list[dict]:
        """Serving-path point lookup with NO Spark job at all: compute
        the key's span in-process, read that span's files with pyarrow
        (the key filter is pushed into the read, so row-group stats
        prune and only matching rows materialize), return plain dicts.
        This is the closest analogue of the reference's Query — a local
        file read + deserialize (Executer.cs:370-376) — at
        single-digit-ms latency; use :meth:`query` when the result
        feeds further Spark plans. Key values must match the group
        columns' storage types (pyarrow compares typed values).

        Concurrent maintenance can vacuum a file between the manifest
        resolve and the read; on a missing file the lookup re-resolves
        the (atomically committed) manifest and retries."""
        import pyarrow.parquet as pq

        span = self._span_of(key_values)
        filters = [
            (c, "==", v) for c, v in zip(self.group_cols, key_values)
        ]
        for _ in range(3):
            files = self._fin_t.spans().get(span, [])
            out: list[dict] = []
            try:
                for f in files:
                    tbl = pq.read_table(
                        os.path.join(self._fin_t.path, f), filters=filters
                    )
                    for row in tbl.to_pylist():
                        row.pop("kspan", None)
                        out.append(row)
                return out
            except FileNotFoundError:
                continue  # lost a race with vacuum(); re-resolve
        raise RuntimeError(
            f"query_local kept losing the vacuum race at {self._fin_t.path}; "
            "raise vacuum(keep_versions=...) retention for serving stores"
        )

    def drop_key(self, *key_values) -> None:
        """Remove one group's materialized rows (the reference's dead
        ``Storage.Delete``, Executer.cs:222-238, exposed for real) —
        a single-span file rewrite + manifest commit."""
        span = self._span_of(key_values)
        df = self._fin_t.read(self.spark, spans=[span])
        if df is None:
            return
        keep = df
        for col, val in zip(self.group_cols, key_values):
            keep = keep.filter(~(F.col(col) == val))
        mapping = self._fin_t.write_data(keep)
        self._fin_t.commit(replace=mapping, drop={span} - set(mapping))
