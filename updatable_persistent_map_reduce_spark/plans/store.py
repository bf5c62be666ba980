"""ManifestTable — atomic-snapshot parquet tables for the view store.

The reference's durability contract is "state survives process
lifetimes" (its four filesystem trees, MapReduce/Executer.cs:165-203,
are the only cross-process channel). Plain partition-directory
overwrite cannot honor that contract under a crash: a kill between the
per-span ``rmtree`` and ``move`` of a directory swap loses the span,
and a parquet ``mode("append")`` into a live directory leaves torn
files that later readers pick up.

This module supplies the missing commit protocol — the same design a
Delta/Iceberg table uses, reduced to what a single-writer engine
needs:

- **Data files are immutable.** Every write job lands whole files in a
  fresh ``data-*/`` subdirectory; nothing ever modifies or deletes a
  file that a committed snapshot references (until ``vacuum``).
- **Membership is a JSON manifest** mapping span -> relative file
  paths. Commits derive the next manifest in memory and publish it
  with ``os.replace`` — atomic on POSIX — so a reader sees the old
  complete snapshot or the new complete snapshot, never a mix, no
  matter where a crash lands.
- **Readers resolve the manifest to an explicit file list** and hand
  it to ``spark.read.parquet(*files)``. Span pruning happens
  driver-side against the manifest (strictly stronger than directory
  partition pruning: no listing, no footer reads for skipped spans).
  The span column is stored *in* the data files, so no partition
  inference is needed.
- **Crashed writes are invisible.** Files never referenced by a
  manifest are orphans; ``vacuum()`` removes them opportunistically.
- **Every committed manifest is archived** under ``_versions/`` —
  snapshot time travel (``read(version=N)``) and an audit trail for
  free; ``vacuum(keep_versions=...)`` bounds the archive.

Scale notes (100 TB): the manifest holds one entry per data file, and
the engine writes one file per dirty span per batch — manifest size
tracks span count x batch count between compactions, not corpus size.
On a real deployment this object would be a Delta/Iceberg commit log;
the interface is deliberately shaped so swapping one in touches only
this file.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MANIFEST = "manifest.json"
_VERSIONS = "_versions"


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same version first. The losing
    writer's data files are unreferenced (vacuum reclaims them); retry
    by re-reading state and re-deriving the commit — the optimistic-
    concurrency contract of a Delta/Iceberg commit log, reduced to
    exclusive-create on a filesystem. :func:`retry_commit` is that
    retry loop packaged."""


def retry_commit(op, *, attempts: int = 5):
    """Run ``op`` — a zero-argument callable performing ONE complete
    read → derive → commit cycle against a table (e.g. ``lambda:
    t.merge(src, on=["k"])``, ``lambda: t.compact(spark)``, ``lambda:
    t.delete_keys(keys, on=["k"])``) — retrying WITH REBASE on
    :class:`ConcurrentCommitError`.

    Rebase is automatic because every commit path in this module
    re-loads the manifest at entry and re-pins ``base_version`` from
    that fresh read: invoking ``op`` again re-derives the whole commit
    against the winning writer's snapshot (the losing attempt's data
    files are unreferenced orphans that :meth:`ManifestTable.vacuum`
    reclaims). This is the optimistic-concurrency loop of a
    Delta/Iceberg writer — read snapshot, derive, attempt commit, on
    conflict rebase and retry — and it is what lets a compaction
    daemon coexist with an ingest writer instead of one of them dying
    loudly. Bounded: after ``attempts`` consecutive losses the last
    ``ConcurrentCommitError`` propagates (livelock guard; under that
    much contention the deployment should serialize its writers).

    Most disjoint writers never reach this loop at all: since r8,
    :meth:`ManifestTable.commit` records each commit's touched-span
    set in the manifest and lets a stale ``base_version`` commit land
    directly when every intervening commit touched DISJOINT spans
    (Delta-style logical conflict classes) — the rebase here is only
    paid for genuinely overlapping writes, whole-table commits, or
    unknowable history.

    ``op`` MUST be the full cycle. Passing a pre-derived commit (a
    closure over an already-computed ``replace=`` mapping built from a
    stale read) would retry the publish without the rebase and can
    reintroduce the lost update the OCC check exists to prevent;
    plain ``append=`` commits are safe either way (order-independent).
    """
    last: ConcurrentCommitError | None = None
    for _ in range(max(1, attempts)):
        try:
            return op()
        except ConcurrentCommitError as e:
            last = e
    raise last


class ManifestTable:
    """A parquet table whose membership is an atomically-swapped
    manifest: ``{"version": N, "spans": {"<span>": ["<relpath>", ...]}}``.

    Single-writer by design (the engine serializes commits per table);
    any number of concurrent readers, each seeing a consistent
    snapshot. A SECOND writer is a misconfiguration the table detects
    rather than tolerates: the commit point is an exclusive create of
    ``_versions/<N>.json``, so when two writers race to publish the
    same next version exactly one wins and the other raises
    :class:`ConcurrentCommitError` — a lost update becomes a loud
    failure, never silent corruption. ``manifest.json`` is a
    convenience pointer to the committed version; a crash between
    commit point and pointer update self-heals on the next load
    (the highest committed version wins).
    """

    def __init__(
        self, path: str, span_col: str, stat_cols: tuple[str, ...] = ()
    ):
        self.path = path
        self.span_col = span_col
        # Columns whose per-file min/max ride in the manifest (the
        # Iceberg-manifest trick): captured from parquet footers at
        # write time (driver-side, O(new files)), consulted by
        # ``read(where=...)`` so a range predicate skips files without
        # opening a single footer at read time. Only int/float/string
        # columns (JSON-portable bounds).
        self.stat_cols = tuple(stat_cols)
        self._manifest_path = os.path.join(path, _MANIFEST)
        # File schema, learned from the first write or read. A manifest
        # table's schema is fixed for its lifetime (every writer lands
        # the same columns), so later reads pass it explicitly and skip
        # parquet footer inference — measured ~0.2 s of driver time per
        # read on the incremental view's per-batch map_results read.
        self._schema = None
        # relpath -> {col: [min, max]} for files written by THIS
        # object, merged into the manifest at commit time
        self._pending_stats: dict[str, dict[str, list]] = {}

    # ----- manifest io -----------------------------------------------------

    def _load(self, version: int | None = None) -> dict:
        if version is not None:
            p = os.path.join(self.path, _VERSIONS, f"{version}.json")
            if not os.path.exists(p):
                raise ValueError(f"no archived manifest version {version} at {p}")
            with open(p) as f:
                return json.load(f)
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                m = json.load(f)
        else:
            m = {"version": 0, "spans": {}}
        # Crash-window self-heal: the commit POINT is the exclusive
        # create of _versions/<N>.json; the pointer update may not have
        # landed. Adopt the highest committed version beyond the
        # pointer and repair the pointer (idempotent atomic replace).
        vdir = os.path.join(self.path, _VERSIONS)
        if os.path.isdir(vdir):
            newer = [
                int(f[:-5])
                for f in os.listdir(vdir)
                if f.endswith(".json") and f[:-5].isdigit()
                and int(f[:-5]) > m["version"]
            ]
            if newer:
                with open(os.path.join(vdir, f"{max(newer)}.json")) as f:
                    m = json.load(f)
                try:
                    self._publish_pointer(m)
                except OSError:
                    # best-effort repair: a read-only consumer still
                    # gets the committed snapshot in memory
                    pass
        return m

    def _publish_pointer(self, m: dict) -> None:
        # Unique temp name per publish: a FIXED .tmp name let two
        # concurrent publishers (e.g. both retry_commit winners of
        # successive versions, or a reader's self-heal racing a
        # writer) os.replace each other's temp file away — the loser
        # died with FileNotFoundError. Found by the threaded
        # two-writer append test. The pointer itself stays atomic and
        # self-healing: whichever replace lands last wins, and _load
        # adopts the highest committed version regardless.
        tmp = f"{self._manifest_path}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(m, f)
        os.replace(tmp, self._manifest_path)

    @property
    def version(self) -> int:
        return self._load()["version"]

    def spans(self, version: int | None = None) -> dict[int, list[str]]:
        m = self._load(version)
        return {int(s): list(files) for s, files in m["spans"].items()}

    # ----- write path ------------------------------------------------------

    def write_data(
        self,
        df: DataFrame,
        sort_cols: Sequence[str] = (),
        max_records_per_file: int | None = None,
    ) -> dict[int, list[str]]:
        """Run one Spark write job landing ``df`` as immutable files in
        a fresh ``data-*/`` subdir; return span -> relative file paths.

        The job partitions by a duplicate of the span column so each
        span becomes its own directory (giving the span->file mapping
        from the directory listing, no extra job) while the span column
        itself stays *in* the files as a data column for filter
        pushdown on read. ``repartition(span)`` makes each span one
        task writing one file — at 100 TB scale pair it with
        ``max_records_per_file`` (and more spans) to bound file sizes.
        Files are unreferenced (invisible) until :meth:`commit`.

        ``sort_cols`` orders rows within each span before the write, so
        with ``max_records_per_file`` each span splits into files each
        covering a CONTIGUOUS run of the sort key — which makes the
        per-file ``stat_cols`` bounds tight and :meth:`read`'s
        ``where=`` pruning effective (the Iceberg sort-order layout).
        """
        dirname = f"data-{uuid.uuid4().hex[:12]}"
        target = os.path.join(self.path, dirname)
        # partitionBy drops __span from the data files, so the file
        # schema is exactly df's — remember it for inference-free reads
        self._schema = df.schema
        out = df.withColumn("__span", F.col(self.span_col)).repartition(
            F.col("__span")
        )
        if sort_cols:
            out = out.sortWithinPartitions("__span", *sort_cols)
        writer = out.write.mode("overwrite").partitionBy("__span")
        if max_records_per_file is not None:
            # a writer option, not session conf: concurrent writes on
            # the same session never see each other's file bound
            writer = writer.option("maxRecordsPerFile", max_records_per_file)
        writer.parquet(target)
        mapping: dict[int, list[str]] = {}
        prefix = "__span="
        for entry in sorted(os.listdir(target)):
            if not entry.startswith(prefix):
                continue
            raw = entry[len(prefix):]
            if not raw.lstrip("-").isdigit():
                # __HIVE_DEFAULT_PARTITION__ — a NULL span value, which
                # only a NULL document id / group key row can produce
                raise ValueError(
                    f"null {self.span_col} in write to {self.path}: "
                    "document ids and group keys must be non-null"
                )
            span = int(raw)
            files = [
                os.path.join(dirname, entry, f)
                for f in sorted(os.listdir(os.path.join(target, entry)))
                if f.endswith(".parquet")
            ]
            if files:
                mapping[span] = files
        if self.stat_cols:
            self._capture_stats(mapping)
        return mapping

    def _capture_stats(self, mapping: dict[int, list[str]]) -> None:
        """Read the just-written files' parquet footers once (driver-
        side, O(new files)) and remember min/max per ``stat_cols`` for
        the next :meth:`commit`. Columns with absent/non-JSON-portable
        statistics are skipped — a file without bounds is simply never
        pruned (always safe)."""
        import pyarrow.parquet as pq

        for files in mapping.values():
            for rel in files:
                md = pq.ParquetFile(os.path.join(self.path, rel)).metadata
                names = {
                    md.schema.column(i).name: i
                    for i in range(md.num_columns)
                }
                st: dict[str, list] = {}
                for c in self.stat_cols:
                    idx = names.get(c)
                    if idx is None:
                        continue
                    mins, maxs = [], []
                    for g in range(md.num_row_groups):
                        s = md.row_group(g).column(idx).statistics
                        if s is None or not s.has_min_max:
                            mins = []
                            break
                        mins.append(s.min)
                        maxs.append(s.max)
                    if not mins:
                        continue
                    bounds = [min(mins), max(maxs)]
                    try:
                        json.dumps(bounds)
                    except TypeError:
                        continue
                    st[c] = bounds
                if st:
                    self._pending_stats[rel] = st

    def commit(
        self,
        *,
        replace: dict[int, list[str]] | None = None,
        append: dict[int, list[str]] | None = None,
        drop: Iterable[int] = (),
        replace_all: dict[int, list[str]] | None = None,
        base_version: int | None = None,
    ) -> int:
        """Publish the next snapshot: ``replace`` swaps a span's file
        set, ``append`` extends it, ``drop`` removes the span,
        ``replace_all`` substitutes the entire table. The previous
        manifest is archived for time travel, then the new one is
        published with one atomic ``os.replace``. Returns the new
        version.

        ``base_version`` pins read-modify-write commits (compaction's
        replace was derived from a snapshot read): if the table has
        advanced past it, the commit checks SPAN-LEVEL conflict
        classes (Delta-style logical conflict detection) before giving
        up — every manifest records the span set its commit touched,
        so a stale writer whose touched spans are DISJOINT from every
        intervening commit's recorded set still holds a valid
        derivation (span-local paths like :meth:`merge` read only the
        spans they rewrite, and a disjoint commit cannot have changed
        those spans' files or tombstones) and lands without a rebase.
        Overlapping spans, a full-table intervening commit
        (``touched == "*"``), a manifest without a recorded set
        (pre-feature or :meth:`restore`), or a vacuumed-away
        intervening manifest all still raise
        :class:`ConcurrentCommitError` loudly — the fast path only
        ever narrows the retry, never weakens the check."""
        m = self._load()
        touched: set[int] | None = None  # None == whole table
        if replace_all is None:
            touched = (
                {int(s) for s in (replace or {})}
                | {int(s) for s in (append or {})}
                | {int(s) for s in drop}
            )
        if base_version is not None and m["version"] != base_version:
            if base_version > m["version"]:
                # A base snapshot AHEAD of the current manifest is not a
                # stale writer — it's a corrupt/regressed table pointer or
                # a caller bug. The disjointness walk would iterate an
                # empty range and vacuously pass, so refuse explicitly:
                # the fast path is strictly for base_version < current.
                raise ConcurrentCommitError(
                    f"table {self.path} is at version {m['version']} but "
                    f"this commit claims base snapshot {base_version} from "
                    "the future; the table pointer regressed or the caller "
                    "passed a wrong base_version"
                )
            if not self._intervening_disjoint(base_version, m, touched):
                raise ConcurrentCommitError(
                    f"table {self.path} advanced to version "
                    f"{m['version']} past this commit's base snapshot "
                    f"{base_version} with overlapping span writes; "
                    "re-derive the commit from current state"
                )
        if replace_all is not None:
            spans = {str(s): list(fs) for s, fs in replace_all.items()}
        else:
            spans = dict(m["spans"])
            for s, fs in (replace or {}).items():
                spans[str(s)] = list(fs)
            for s, fs in (append or {}).items():
                spans[str(s)] = spans.get(str(s), []) + list(fs)
            for s in drop:
                spans.pop(str(s), None)
        spans = {s: fs for s, fs in spans.items() if fs}
        new = {"version": m["version"] + 1, "spans": spans}
        # Record this commit's conflict class for future stale writers
        # (see the base_version fast path above): the touched span set,
        # or "*" for whole-table commits.
        new["touched"] = "*" if touched is None else sorted(touched)
        # The committed SCHEMA rides in the manifest (Iceberg-style
        # schema evolution, add-column only): the table's read schema
        # is the union of every live file's columns, so a batch that
        # lands files with NEW columns widens it and older files read
        # with NULL backfill (Spark's parquet reader fills columns
        # absent from a file when given an explicit schema). Archived
        # manifests keep their own schema, so time travel reads each
        # snapshot exactly as it was committed. Type changes and drops
        # are rejected — the evolutions that CAN'T be answered by
        # NULL backfill fail at commit, not silently at read.
        schema_json = m.get("schema")
        if self._schema is not None:
            merged = (
                json.loads(schema_json)["fields"] if schema_json else []
            )
            have = {f["name"]: f for f in merged}
            for f in json.loads(self._schema.json())["fields"]:
                old = have.get(f["name"])
                if old is None:
                    merged.append(f)
                elif old["type"] != f["type"]:
                    raise ValueError(
                        f"schema evolution on {self.path} may only ADD "
                        f"columns: {f['name']} changed type "
                        f"{old['type']} -> {f['type']}"
                    )
            schema_json = json.dumps(
                {"type": "struct", "fields": merged}
            )
        if schema_json is not None:
            new["schema"] = schema_json
        # carry forward stats for retained files, attach pending stats
        # for newly-referenced ones, drop stats of removed files
        live = {f for fs in spans.values() for f in fs}
        stats = {
            f: s for f, s in m.get("stats", {}).items() if f in live
        }
        for f in list(self._pending_stats):
            if f in live:
                stats[f] = self._pending_stats.pop(f)
        # Entries still pending belong to files this commit did not
        # reference — abandoned writes (a raced-out or failed commit's
        # leftovers). Drop them: on the rare write-write-commit-commit
        # interleave the second commit's files lose their bounds, and
        # a file without bounds is merely never pruned (always safe),
        # while keeping them would leak driver memory per abandoned
        # file for the object's lifetime.
        self._pending_stats.clear()
        if stats:
            new["stats"] = stats
        # Tombstones (MoR deletes) carry forward — EXCEPT for spans
        # this commit replaces or drops: the new file set is the
        # span's authoritative content (a merge/compaction already
        # read the live view, tombstones applied), and stale
        # tombstones would re-delete keys the rewrite re-inserted.
        # An APPEND into a tombstoned span is rejected loudly: the
        # tombstones are keyed, so they would hide (and compaction
        # would then destroy) any re-inserted row in the appended
        # files — materialize first (compact) or route the rows
        # through merge, whose replace clears the span's tombstones.
        deletes = dict(m.get("deletes", {}))
        if replace_all is not None:
            deletes = {}
        else:
            clobbered = [
                s for s in (append or {}) if str(s) in deletes
            ]
            if clobbered:
                raise ValueError(
                    f"append into tombstoned span(s) {sorted(clobbered)} "
                    f"of {self.path}: keyed tombstones would hide the "
                    "appended rows and compaction would drop them — "
                    "compact() first to materialize, or use merge()"
                )
            for s in list(replace or {}):
                deletes.pop(str(s), None)
            for s in drop:
                deletes.pop(str(s), None)
        if deletes:
            new["deletes"] = deletes
            new["delete_on"] = m["delete_on"]
        return self._publish_new(m, new)

    def _intervening_disjoint(
        self, base_version: int, cur: dict, touched: set[int] | None
    ) -> bool:
        """True iff every commit between ``base_version`` and the
        current manifest ``cur`` recorded a touched-span set disjoint
        from ``touched`` — the span-level conflict check. Conservative
        by construction: a whole-table commit on either side
        (``touched is None`` / recorded ``"*"``), a manifest missing
        the record, or a vacuumed-away intervening manifest all
        return False (the stale writer must rebase)."""
        if touched is None:
            return False
        for v in range(base_version + 1, cur["version"] + 1):
            try:
                mv = cur if v == cur["version"] else self._load(v)
            except ValueError:
                return False  # intervening manifest vacuumed away
            t = mv.get("touched")
            if not isinstance(t, list):
                return False  # "*", pre-feature, or restore/meta commit
            if touched & {int(s) for s in t}:
                return False
        return True

    def _publish_new(self, m: dict, new: dict) -> int:
        """The commit protocol's publish step, shared by data commits
        (:meth:`commit`) and metadata-only commits
        (:meth:`_commit_meta`) so the delicate atomicity code exists
        exactly once."""
        os.makedirs(self.path, exist_ok=True)
        vdir = os.path.join(self.path, _VERSIONS)
        os.makedirs(vdir, exist_ok=True)
        # Keep the base version time-travelable (pre-existing stores
        # whose current version predates the version-file commit point
        # have no _versions/<base>.json yet). Written from the loaded
        # base manifest ``m`` — never copied from the pointer file,
        # which a racing writer may have advanced past ``m`` by now.
        base = os.path.join(vdir, f"{m['version']}.json")
        if m["version"] > 0 and not os.path.exists(base):
            btmp = base + f".{uuid.uuid4().hex[:8]}.tmp"
            with open(btmp, "w") as f:
                json.dump(m, f)
            os.replace(btmp, base)
        # THE commit point: atomically link a fully-written temp file
        # to the new version's name. link(2) fails if the name exists,
        # so exactly one writer can win a version — and the content is
        # complete before the name ever exists, so no reader (or the
        # self-heal scan) can observe a torn manifest.
        target = os.path.join(vdir, f"{new['version']}.json")
        tmp = target + f".{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            json.dump(new, f)
        try:
            os.link(tmp, target)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version {new['version']} of {self.path} was committed "
                "by another writer (stale base snapshot "
                f"{m['version']}); this table is single-writer"
            ) from None
        finally:
            os.remove(tmp)
        self._publish_pointer(new)
        return new["version"]

    # ----- read path -------------------------------------------------------

    def select_files(
        self,
        spans: Iterable[int] | None = None,
        version: int | None = None,
        where: tuple[str, object, object]
        | list[tuple[str, object, object]]
        | None = None,
    ) -> list[str]:
        """Resolve a snapshot to absolute file paths, pruned driver-
        side by span membership AND by manifest min/max stats:
        ``where=(col, lo, hi)`` (or a LIST of such triples, ANDed)
        drops every file whose recorded ``col`` bounds cannot
        intersect ``[lo, hi]`` — no footer is
        opened (the manifest carries the bounds), no listing happens.
        Files without recorded bounds are always kept (safe). The
        predicate itself must still be applied to the surviving rows;
        pruning only shrinks the file set, exactly like a parquet
        scan's row-group skipping one level up."""
        return self._select_from(self._load(version), spans, where)

    def _select_from(
        self,
        m: dict,
        spans: Iterable[int] | None,
        where: tuple[str, object, object]
        | list[tuple[str, object, object]]
        | None,
    ) -> list[str]:
        mapping = {int(s): fs for s, fs in m["spans"].items()}
        if spans is not None:
            keep = set(spans)
            mapping = {s: fs for s, fs in mapping.items() if s in keep}
        files = [f for fs in mapping.values() for f in fs]
        if where is not None:
            # one (col, lo, hi) or a list of them (ANDed — a file must
            # be possible under EVERY range to survive)
            preds = [where] if isinstance(where, tuple) else list(where)
            stats = m.get("stats", {})

            def survives(f: str) -> bool:
                fstats = stats.get(f, {})
                for col, lo, hi in preds:
                    b = fstats.get(col)
                    if b is not None and (b[1] < lo or b[0] > hi):
                        return False
                return True

            files = [f for f in files if survives(f)]
        return [os.path.join(self.path, f) for f in files]

    def read(
        self,
        spark: SparkSession,
        spans: Iterable[int] | None = None,
        version: int | None = None,
        where: tuple[str, object, object]
        | list[tuple[str, object, object]]
        | None = None,
    ) -> DataFrame | None:
        """DataFrame over the snapshot's files (optionally pruned to
        ``spans`` driver-side, optionally an archived ``version``,
        optionally stat-pruned via ``where`` — see
        :meth:`select_files`); ``None`` if the selection is empty. The
        returned plan holds a fixed file list, so concurrent
        commits/appends never change what it reads.

        The snapshot's manifest schema (when recorded) is the read
        schema: files written before a column was added simply lack
        it and Spark's parquet reader backfills NULL — add-column
        schema evolution with zero rewrites. Time travel reads each
        archived snapshot under ITS schema."""
        # materialize once: `spans` is consumed by BOTH file selection
        # and tombstone application — a one-shot iterable would arrive
        # at the second pass exhausted and silently skip tombstones
        spans = list(spans) if spans is not None else None
        m = self._load(version)
        files = self._select_from(m, spans, where)
        if not files:
            return None
        if "schema" in m:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(m["schema"]))
            if version is None:
                self._schema = schema
            df = spark.read.schema(schema).parquet(*files)
        elif self._schema is not None:
            df = spark.read.schema(self._schema).parquet(*files)
        else:
            df = spark.read.parquet(*files)
            self._schema = df.schema
        return self._apply_tombstones(df, m, spans)

    def merge(
        self,
        source: DataFrame,
        on: Sequence[str],
        *,
        delete_where: str | None = None,
        touched: Sequence[int] | None = None,
        want_counts: bool = True,
    ) -> dict:
        """MERGE INTO for the store (Delta semantics, span-granular
        copy-on-write): matched target rows are REPLACED by their
        source row (latest-wins, the engine's update rule,
        Executer.cs:240-261 generalized to arbitrary row-level
        tables), unmatched source rows are INSERTED, and rows whose
        source satisfies ``delete_where`` are DELETED when matched and
        ignored when not. Only the spans named by the source are read,
        merged, and rewritten — cost scales with the touched spans'
        data, never with the table; every other span's files carry
        into the new snapshot byte-for-byte (and the pre-merge
        snapshot stays time-travelable).

        Contract — each clause an invariant every engine table already
        holds: ``on`` keys are non-null and unique within the source;
        the span column is the same pure function of the keys on both
        sides (hash(key) % n_spans), so a key's target row can only
        live in the span its source row names. ``source`` must contain
        every table column; extra columns may be referenced by
        ``delete_where`` and are dropped before the write — except on
        a NEVER-WRITTEN table, whose schema is defined by this first
        merge, so a fresh-table merge with ``delete_where`` is
        rejected (the extras would be indistinguishable from table
        columns; land an initial batch first). ``source`` must be
        DETERMINISTIC (no rand/unordered limit): it is evaluated once
        per job (touched spans, counts, write), and a source that
        changes between evaluations can route rows to spans outside
        the pinned ``touched`` set, which the commit would then drop.
        Every engine source is a pure projection of committed data,
        which satisfies both clauses. Returns ``{updated, inserted,
        deleted, spans_touched, version}``.

        Job-count opt-outs (optimization guide §1.2 — a maintenance
        batch is a chain of small jobs, so every skipped action is
        wall time): ``touched`` lets a caller that ALREADY collected
        the source's span footprint (e.g. JoinView's probe) skip this
        method's distinct-collect — it must be EXACTLY the source's
        distinct span set. The contract is ENFORCED, not trusted
        (r12 verdict item 8 — a superset hint would replace untouched
        spans with nothing, silent data loss): an Observation on the
        source collects its true distinct span set as a side effect
        of the jobs the merge already runs (zero extra jobs), and any
        mismatch raises before the commit. ``want_counts=False``
        skips the updated/inserted/deleted counting job for callers
        that ignore the stats (the returned counts are then None).
        """
        spark = source.sparkSession
        base_v = self.version
        obs = None
        if touched is None:
            touched = sorted(
                r[0]
                for r in source.select(self.span_col).distinct().collect()
            )
        else:
            touched = sorted(int(s) for s in touched)
            from pyspark.sql import Observation

            obs = Observation()
            source = source.observe(
                obs, F.collect_set(F.col(self.span_col)).alias("spans")
            )
        tgt = self.read(spark, spans=touched)
        cols = list(self._schema.names) if self._schema is not None else None
        if cols is None:
            # empty touched spans but a committed schema still defines
            # the table's columns (read() only learns from files)
            m_cur = self._load()
            if "schema" in m_cur:
                cols = [
                    f["name"]
                    for f in json.loads(m_cur["schema"])["fields"]
                ]
        if cols is None:
            if delete_where is not None:
                raise ValueError(
                    f"merge into never-written table {self.path} with "
                    "delete_where: the source's condition-only columns "
                    "would become table columns (the first write "
                    "defines the schema); commit an initial batch "
                    "first or drop delete_where"
                )
            cols = list(source.columns)
        src = source.withColumn("__s_present", F.lit(True)).withColumn(
            "__del",
            F.expr(delete_where) if delete_where is not None else F.lit(False),
        )
        if tgt is None:
            joined = src
            for c in cols:
                joined = joined.withColumn(f"__t_{c}", F.lit(None))
            joined = joined.withColumn("__t_present", F.lit(None).cast("boolean"))
        else:
            t = tgt.select(
                *[F.col(c).alias(f"__t_{c}") for c in cols]
            ).withColumn("__t_present", F.lit(True))
            cond = [t[f"__t_{k}"] == src[k] for k in (self.span_col, *on)]
            joined = t.join(src, cond, "full_outer")
        tp = F.coalesce(F.col("__t_present"), F.lit(False))
        sp = F.coalesce(F.col("__s_present"), F.lit(False))
        dl = F.coalesce(F.col("__del"), F.lit(False))
        counts = (
            joined.select(
                F.sum((tp & sp & ~dl).cast("bigint")).alias("updated"),
                F.sum(((~tp) & sp & ~dl).cast("bigint")).alias("inserted"),
                F.sum((tp & sp & dl).cast("bigint")).alias("deleted"),
            ).collect()[0]
            if want_counts
            else None
        )
        merged = joined.filter(~sp | ~dl).select(
            *[
                F.when(sp, F.col(c))
                .otherwise(F.col(f"__t_{c}"))
                .alias(c)
                for c in cols
            ]
        )
        mapping = self.write_data(merged)
        if obs is not None:
            # The write (or counts) job evaluated the observed source;
            # compare its TRUE distinct span set against the caller's
            # hint. A superset hint would have emptied the extra spans
            # at commit (data loss); a subset would drop landed rows.
            observed = sorted(int(x) for x in obs.get["spans"])
            if observed != touched:
                raise ValueError(
                    f"merge into {self.path}: touched= hint {touched} != "
                    f"the source's actual distinct span set {observed} — "
                    "committing would silently replace the difference "
                    "with nothing; pass the source's exact span footprint"
                )
        # Enforce (not just document) the determinism clause above: if
        # the source changed between the touched-span collect and the
        # write job, rows can land in spans outside the pinned
        # ``touched`` set — and the replace commit below would silently
        # drop them. Fail loudly instead; the stray files are orphans
        # vacuum reclaims.
        stray = sorted(set(mapping) - set(touched))
        if stray:
            raise ValueError(
                f"merge into {self.path}: write landed rows in span(s) "
                f"{stray} outside the pinned touched set {touched} — "
                "the source is non-deterministic (rand()/unordered "
                "limit?), violating merge's determinism contract; "
                "aborting before the commit could drop those rows"
            )
        # pin the snapshot the merge READ (incl. its tombstone state):
        # a commit landing in between — e.g. a delete_keys whose
        # tombstones this replace would pop unapplied — turns into a
        # loud ConcurrentCommitError, like compact()
        version = self.commit(
            replace={s: mapping.get(s, []) for s in touched},
            base_version=base_v,
        )
        return {
            "updated": int(counts["updated"] or 0) if counts is not None else None,
            "inserted": int(counts["inserted"] or 0) if counts is not None else None,
            "deleted": int(counts["deleted"] or 0) if counts is not None else None,
            "spans_touched": len(touched),
            "version": version,
        }

    def delete_keys(
        self, keys: DataFrame, on: Sequence[str]
    ) -> dict:
        """MERGE-ON-READ delete (Delta deletion-vectors / Iceberg
        equality-deletes semantics): record the keys as TOMBSTONE
        files and commit — zero data files rewritten, so a small
        delete against a huge span costs O(deleted keys), not a span
        rewrite (the copy-on-write alternative :meth:`merge` pays).
        Readers apply tombstones as a read-time anti-join;
        :meth:`compact` MATERIALIZES them (rewrites the span minus the
        deleted rows and clears the tombstones), restoring zero
        read-time overhead — the standard MoR write-fast/read-fix-up
        trade. ``keys`` must carry the span column plus the ``on``
        columns (span a pure function of the keys, as everywhere).
        Tombstones accumulate per span until compaction; the manifest
        records them under ``deletes`` with the key columns pinned
        (one key-column set per table — mixed delete keys would make
        the anti-join ambiguous and are rejected). Like merge/compact
        this is a read-modify-write under OCC: the commit pins the
        version loaded at entry, so of two concurrent ``delete_keys``
        calls (or a delete racing any other commit) exactly one lands
        and the loser raises :class:`ConcurrentCommitError` — loud,
        never a silent union of tombstone sets; wrap the call in
        :func:`retry_commit` to rebase and reapply. :meth:`changes`
        diffs data files, so a MoR delete surfaces in the change feed
        when compaction materializes it — the same deferred-visibility
        trade Delta's CDF makes for deletion vectors."""
        m = self._load()
        prev_on = m.get("delete_on")
        if prev_on is not None and list(prev_on) != list(on):
            raise ValueError(
                f"tombstones on {self.path} already keyed by {prev_on}; "
                f"cannot add deletes keyed by {list(on)} — compact() "
                "first to materialize and clear them"
            )
        # tombstone files are NOT data files: don't let their narrow
        # (span, keys) schema displace the table's learned read schema
        saved_schema = self._schema
        mapping = self.write_data(keys.select(self.span_col, *on))
        self._schema = saved_schema
        base = m["version"]
        deletes = {
            s: fs for s, fs in m.get("deletes", {}).items()
        }
        for s, fs in mapping.items():
            # a tombstone for a span with no committed data files is a
            # no-op forever AND compaction (which walks data spans)
            # could never materialize it away — skip it (its files are
            # orphans, vacuum reclaims them) so the delete_on pin can
            # always be cleared by one compact()
            if str(s) not in m["spans"]:
                continue
            deletes[str(s)] = deletes.get(str(s), []) + fs
        recorded = {
            s: fs for s, fs in mapping.items() if str(s) in m["spans"]
        }
        version = self._commit_meta(
            base,
            touched=[int(s) for s in recorded],
            deletes=deletes,
            # never pin the key-column set without live tombstones
            delete_on=list(on) if deletes else None,
        )
        return {
            "spans_touched": len(recorded),
            "tombstone_files": sum(len(fs) for fs in recorded.values()),
            "version": version,
        }

    def _commit_meta(
        self,
        base_version: int,
        touched: list[int] | None = None,
        **meta,
    ) -> int:
        """Commit a metadata-only snapshot (same spans, updated
        ``deletes``/``delete_on``) through the normal commit protocol
        so tombstones get the identical atomicity, archive, and OCC
        guarantees as data commits. ``touched`` records the commit's
        span-level conflict class (the spans whose tombstone state
        changed) so disjoint stale writers can fast-path past it;
        omitted -> "*" (conflicts with everything). The meta commit
        itself stays strictly pinned — its deletes dict is derived
        from the base snapshot whole, so any advance forces a
        re-derive."""
        m = self._load()
        if m["version"] != base_version:
            raise ConcurrentCommitError(
                f"table {self.path} advanced past {base_version}"
            )
        new = {
            "version": m["version"] + 1,
            "spans": m["spans"],
            **{k: v for k, v in m.items() if k in ("stats", "schema")},
            **meta,
        }
        new = {k: v for k, v in new.items() if v or k in ("version", "spans")}
        new["touched"] = "*" if touched is None else sorted(touched)
        return self._publish_new(m, new)

    def _apply_tombstones(
        self, df: DataFrame, m: dict, spans: Iterable[int] | None
    ) -> DataFrame:
        """Anti-join the snapshot's tombstones (if any intersect the
        read's spans) — the MoR read-time fix-up. Tombstone file sets
        are tiny relative to data (they hold deleted KEYS), so Spark
        broadcasts the build side in the usual case."""
        deletes = m.get("deletes", {})
        if not deletes:
            return df
        keep = None if spans is None else {int(s) for s in spans}
        files = [
            os.path.join(self.path, f)
            for s, fs in deletes.items()
            if keep is None or int(s) in keep
            for f in fs
        ]
        if not files:
            return df
        on = list(m["delete_on"])
        tomb = df.sparkSession.read.parquet(*files).select(*on).distinct()
        return df.join(tomb, on=on, how="left_anti")

    def tombstoned_spans(self) -> list[int]:
        """Spans with delete tombstones pending materialization — the
        spans :meth:`commit` would reject an append into. Append-mode
        writers go through :meth:`append_materializing`, which
        compacts the necessary subset of these first."""
        return sorted(int(s) for s in self._load().get("deletes", {}))

    def append_materializing(
        self,
        spark: SparkSession,
        mapping: dict[int, list[str]],
        keys: DataFrame | None = None,
    ) -> int:
        """Append-commit ``mapping``, first MATERIALIZING whatever
        pending delete tombstones the append makes unsafe (minor
        compaction) — THE append path for any writer whose table also
        takes :meth:`delete_keys` deletes, owned here next to the
        rules it upholds. Two rules:

        1. :meth:`commit` rejects an append into a span with pending
           tombstones (the keyed anti-join would hide the new rows and
           materialization would drop them) — so the spans the mapping
           lands in are compacted when tombstoned.
        2. Tombstones are SPAN-scoped in storage but KEY-global in
           application (:meth:`_apply_tombstones` anti-joins the whole
           read on the key columns): if an appended KEY is tombstoned
           in ANY span, a stale tombstone elsewhere would silently
           hide the new live rows from multi-span reads — and a later
           compact would physically drop them. ``keys`` (a DataFrame
           carrying the table's ``delete_on`` columns) lets the append
           detect that case with one bounded semi-join against the
           (small) tombstone key set and materialize ALL tombstoned
           spans first, restoring the invariant that no live row ever
           coexists with a same-key tombstone. Passing ``keys=None``
           skips rule 2 — only safe when the caller guarantees no
           appended key was ever deleted.

        The common ingest path (no tombstones anywhere) costs one
        manifest read beyond a plain commit; the post-takedown append
        pays one bounded span-subset rewrite, after which the deletes
        are materialized and gone. Rule 2's span set is NARROW (r11
        advice): only spans whose OWN tombstone key sets intersect the
        batch keys are materialized — one tombstone-file read + semi-
        join, tagged by span, never "all pending deletes because one
        key matched". Both rules evaluate against ONE manifest
        snapshot, and that snapshot's lineage is carried as
        ``base_version`` into the append commit — a tombstone commit
        racing into the appended spans between the rule checks and the
        append now raises :class:`ConcurrentCommitError` instead of
        silently key-hiding the new rows (a racing tombstone in a
        DISJOINT span remains the span-level OCC's documented residual
        window, covered by the single-writer assumption). Returns the
        append commit's version."""
        m = self._load()  # ONE snapshot: both rules + commit lineage
        deletes = m.get("deletes", {})
        spans_to_fix: set[int] = {int(s) for s in deletes} & set(mapping)
        if deletes and keys is not None:
            on = list(m["delete_on"])
            tomb = None
            for s, fs in deletes.items():
                part = (
                    spark.read.parquet(
                        *[os.path.join(self.path, f) for f in fs]
                    )
                    .select(*on)
                    .withColumn("_tspan", F.lit(int(s)))
                )
                tomb = part if tomb is None else tomb.unionByName(part)
            hit = (
                tomb.join(keys.select(*on).distinct(), on, "left_semi")
                .select("_tspan")
                .distinct()
                .collect()
            )
            spans_to_fix |= {int(r[0]) for r in hit}
        base = m["version"]
        if spans_to_fix:
            base = self.compact(
                spark, min_files=1, spans=sorted(spans_to_fix)
            )["version"]
        return self.commit(append=mapping, base_version=base)

    def tombstoned_keys(
        self, spark: SparkSession, spans: Iterable[int] | None = None
    ) -> DataFrame | None:
        """Distinct delete keys pending materialization (optionally
        restricted to ``spans``), or ``None`` if the snapshot carries
        no tombstones there. Lets writers and tests observe deletes
        EXPLICITLY — distinguishing "key was never present" from "key
        is taken down but its dead rows still exist until the next
        minor compaction" (append-mode writers materialize exactly
        the overlapping spans before committing — see
        :meth:`tombstoned_spans`)."""
        m = self._load()
        deletes = m.get("deletes", {})
        if not deletes:
            return None
        keep = None if spans is None else {int(s) for s in spans}
        files = [
            os.path.join(self.path, f)
            for s, fs in deletes.items()
            if keep is None or int(s) in keep
            for f in fs
        ]
        if not files:
            return None
        on = list(m["delete_on"])
        return spark.read.parquet(*files).select(*on).distinct()

    def changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """CHANGE DATA FEED between two snapshots (Delta CDF
        semantics, derived from manifests instead of logged): returns
        the table's rows tagged ``_change_type`` ``insert``/``delete``
        — an update surfaces as delete(old image) + insert(new image),
        a row rewritten identically by a span rewrite cancels out and
        is correctly absent. This is what an incremental downstream
        consumer reads instead of diffing whole snapshots.

        Cost scales with CHANGED FILES only, never table size: spans
        whose manifest file lists are identical across the two
        versions are never read (the usual case — every commit path
        here is span-granular), and within a changed span the files
        common to both versions are skipped too (an append reads just
        the appended files); only genuinely rewritten files pay the
        multiset diff (``exceptAll`` both ways — one shuffle over the
        rewritten rows). Both sides read under the newer snapshot's
        schema, so adds-column evolution NULL-backfills the old image
        and the diff stays well-typed."""
        m_old = self._load(from_version)
        m_new = self._load(
            to_version
        ) if to_version is not None else self._load()
        old_spans = {int(s): fs for s, fs in m_old["spans"].items()}
        new_spans = {int(s): fs for s, fs in m_new["spans"].items()}
        added: list[str] = []
        removed: list[str] = []
        for s in set(old_spans) | set(new_spans):
            o, n = old_spans.get(s, []), new_spans.get(s, [])
            if o == n:
                continue
            oset, nset = set(o), set(n)
            added += [f for f in n if f not in oset]
            removed += [f for f in o if f not in nset]

        if "schema" in m_new:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(m_new["schema"]))
        elif self._schema is not None:
            schema = self._schema
        else:
            probe = added or removed
            if not probe:
                raise ValueError(
                    f"no schema recorded for {self.path} and no changed "
                    "files to infer one from"
                )
            schema = spark.read.parquet(
                os.path.join(self.path, probe[0])
            ).schema

        def side(files: list[str]) -> DataFrame:
            if not files:
                return spark.createDataFrame([], schema)
            return spark.read.schema(schema).parquet(
                *[os.path.join(self.path, f) for f in files]
            )

        new_side, old_side = side(added), side(removed)
        return new_side.exceptAll(old_side).withColumn(
            "_change_type", F.lit("insert")
        ).unionByName(
            old_side.exceptAll(new_side).withColumn(
                "_change_type", F.lit("delete")
            )
        )

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION (Delta RESTORE semantics): commit a
        NEW snapshot whose membership, tombstone state, schema, and
        stats equal the archived ``version`` — rollback as a
        forward-moving commit. Zero data movement: the restore
        re-references the old snapshot's files (immutable by the
        store's contract, still on disk until vacuumed), so restoring
        a 100 TB table is O(manifest). History is preserved — the
        rolled-back versions stay time-travelable, and the restore
        itself appears in :meth:`history` like any commit (the
        difference from time-travel READS: subsequent writers build on
        the restored state). Raises if ``version``'s manifest was
        vacuumed away (``ValueError`` from the archive load); OCC
        applies as usual — a concurrent commit between load and
        publish loses one side loudly."""
        m = self._load()
        old = self._load(version)
        new = {"version": m["version"] + 1, "spans": old["spans"]}
        for k in ("schema", "stats", "deletes", "delete_on"):
            if k in old:
                new[k] = old[k]
        out = self._publish_new(m, new)
        if "schema" in old:
            from pyspark.sql.types import StructType

            self._schema = StructType.fromJson(json.loads(old["schema"]))
        else:
            # Restoring to a version that PREDATES schema evolution:
            # the evolved StructType cached on this object no longer
            # describes the restored snapshot, and a subsequent merge()
            # would derive its column list from the stale cache. Drop
            # it; readers re-derive from the restored snapshot's files.
            self._schema = None
        return out

    def clone_to(self, dest: str) -> "ManifestTable":
        """ZERO-COPY shallow clone (Delta SHALLOW CLONE semantics): a
        new table at ``dest`` whose data (and tombstone) files are
        HARDLINKS of this snapshot's — no bytes copied, the clone is
        O(files) driver metadata. Safe by the store's own immutability
        contract: no writer ever modifies a committed file in place,
        and each side's ``vacuum`` only unlinks its own name, so the
        branches cannot corrupt each other. The clone starts a fresh
        history (version 1 = this snapshot) and diverges independently
        — the cheap test/staging/experiment branch a 100 TB table
        cannot afford to copy. Requires ``dest`` on the same
        filesystem (hardlinks); raises if ``dest`` already exists."""
        m = self._load()
        clone = ManifestTable(dest, self.span_col, self.stat_cols)
        if os.path.exists(os.path.join(dest, _MANIFEST)) or os.path.isdir(
            os.path.join(dest, _VERSIONS)
        ):
            raise ValueError(f"clone destination {dest} already exists")
        all_files = [f for fs in m["spans"].values() for f in fs] + [
            f for fs in m.get("deletes", {}).values() for f in fs
        ]
        for rel in all_files:
            src = os.path.join(self.path, rel)
            dst = os.path.join(dest, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.link(src, dst)
        new = {"version": 1, "spans": m["spans"]}
        for k in ("schema", "stats", "deletes", "delete_on"):
            if k in m:
                new[k] = m[k]
        clone._publish_new({"version": 0, "spans": {}}, new)
        clone._schema = self._schema
        return clone

    # ----- maintenance -----------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        *,
        min_files: int = 2,
        spans: Iterable[int] | None = None,
    ) -> dict:
        """OPTIMIZE for the table: rewrite every span whose committed
        file set has at least ``min_files`` files into one file per
        span, publishing the swap as a normal :meth:`commit`.

        Append-mode writers (the view's doc index and clean-pspan map
        appends, the text index's postings, the ANN index's vector
        lists) accrete one file per span per batch; at ingest rates
        that is the classic small-file problem — O(batches) parquet
        footers to open per span read. Compaction is pure maintenance:
        it rewrites the same row multiset span-by-span, so every query
        answer (and every incremental-maintenance read) is unchanged,
        which is exactly what q_store_compaction attests end-to-end.

        Crash-safe by construction: the rewrite lands in a fresh
        ``data-*/`` dir, invisible until the one atomic commit; a kill
        mid-rewrite leaves orphans for :meth:`vacuum`. Pre-compaction
        snapshots stay time-travelable (old files are referenced by
        archived manifests until vacuumed). Returns
        ``{spans_compacted, files_before, files_after, version}``.
        """
        m = self._load()
        # a span with tombstones is compactable regardless of file
        # count — compaction is also what MATERIALIZES MoR deletes
        # (rewrites the span minus the deleted rows, clears the
        # tombstones via commit's replace rule)
        tombstoned = set(m.get("deletes", {}))
        todo = {
            int(s): fs
            for s, fs in m["spans"].items()
            if len(fs) >= min_files or s in tombstoned
        }
        if spans is not None:
            keep = set(spans)
            todo = {s: fs for s, fs in todo.items() if s in keep}
        if not todo:
            return {
                "spans_compacted": 0,
                "files_before": 0,
                "files_after": 0,
                "version": m["version"],
            }
        # Read the PINNED snapshot's files (not a fresh manifest load)
        # and carry its version into the commit: a commit landing
        # between this read and the replace would otherwise have its
        # span appends silently dropped by the rewrite. Single-writer
        # engines never hit this; the guard turns a latent lost-update
        # into a loud ConcurrentCommitError.
        files = self._select_from(m, list(todo), None)
        if "schema" in m:
            from pyspark.sql.types import StructType

            df = spark.read.schema(
                StructType.fromJson(json.loads(m["schema"]))
            ).parquet(*files)
        elif self._schema is not None:
            df = spark.read.schema(self._schema).parquet(*files)
        else:
            df = spark.read.parquet(*files)
        df = self._apply_tombstones(df, m, list(todo))
        mapping = self.write_data(df)
        version = self.commit(
            replace={s: mapping.get(s, []) for s in todo},
            base_version=m["version"],
        )
        return {
            "spans_compacted": len(todo),
            "files_before": sum(len(fs) for fs in todo.values()),
            "files_after": sum(len(mapping.get(s, [])) for s in todo),
            "version": version,
        }

    def stats(self) -> dict:
        m = self._load()
        files = [f for fs in m["spans"].values() for f in fs]
        return {
            "version": m["version"],
            "spans": len(m["spans"]),
            "files": len(files),
            "bytes": sum(
                os.path.getsize(os.path.join(self.path, f))
                for f in files
                if os.path.exists(os.path.join(self.path, f))
            ),
        }

    def history(self) -> list[dict]:
        """Commit history, newest first: version, commit time (the
        version file's mtime; the pointer's for a vacuumed current
        version), span/file counts — DESCRIBE HISTORY for the store.
        Versions whose archived manifest was vacuumed appear with
        ``"spans": None`` (the commit happened; its membership is no
        longer readable). No Spark job; manifest metadata only."""
        cur = self._load()
        vdir = os.path.join(self.path, _VERSIONS)
        entries: dict[int, dict] = {}
        if os.path.isdir(vdir):
            for f in os.listdir(vdir):
                if not (f.endswith(".json") and f[:-5].isdigit()):
                    continue
                v = int(f[:-5])
                fp = os.path.join(vdir, f)
                with open(fp) as fh:
                    m = json.load(fh)
                entries[v] = {
                    "version": v,
                    "committed_at": os.path.getmtime(fp),
                    "spans": len(m["spans"]),
                    "files": sum(len(fs) for fs in m["spans"].values()),
                }
        for v in range(1, cur["version"] + 1):
            if v not in entries:
                ts = (
                    os.path.getmtime(self._manifest_path)
                    if v == cur["version"]
                    and os.path.exists(self._manifest_path)
                    else None
                )
                entries[v] = {
                    "version": v,
                    "committed_at": ts,
                    "spans": len(cur["spans"]) if v == cur["version"] else None,
                    "files": (
                        sum(len(fs) for fs in cur["spans"].values())
                        if v == cur["version"]
                        else None
                    ),
                }
        return [entries[v] for v in sorted(entries, reverse=True)]

    def vacuum(self, keep_versions: int = 0) -> int:
        """Delete data files not referenced by the current snapshot
        (crashed-write orphans, compacted/rewritten spans) and archived
        manifests beyond the ``keep_versions`` newest (the current
        version's commit record counts as one of them — it is only
        needed for time travel once the pointer is published). Returns
        the number of files removed. Single-writer engines may run this any time; with
        long-lived external readers, delay it past their lifetime (the
        usual retention-window rule)."""
        if not os.path.exists(self.path):
            return 0
        m = self._load()
        live = {
            os.path.normpath(f) for fs in m["spans"].values() for f in fs
        }
        # tombstone files of the current snapshot are live too
        live |= {
            os.path.normpath(f)
            for fs in m.get("deletes", {}).values()
            for f in fs
        }
        # RETENTION GUARD: every archived manifest inside the retention
        # window stays time-travelable, so ITS data + tombstone files
        # are live too — retaining the manifest JSON but reclaiming the
        # files it references would leave a snapshot that resolves but
        # fails at read (and would yank files out from under a reader
        # holding a version-N file list within retention).
        vdir = os.path.join(self.path, _VERSIONS)
        if keep_versions > 0 and os.path.isdir(vdir):
            retained = sorted(
                (
                    int(f[:-5])
                    for f in os.listdir(vdir)
                    if f.endswith(".json") and f[:-5].isdigit()
                ),
                reverse=True,
            )[:keep_versions]
            for v in retained:
                mv = self._load(v)
                live |= {
                    os.path.normpath(f)
                    for fs in mv["spans"].values()
                    for f in fs
                }
                live |= {
                    os.path.normpath(f)
                    for fs in mv.get("deletes", {}).values()
                    for f in fs
                }
        removed = 0
        for entry in os.listdir(self.path):
            if not entry.startswith("data-"):
                continue
            droot = os.path.join(self.path, entry)
            for root, _, names in os.walk(droot, topdown=False):
                for name in names:
                    rel = os.path.normpath(
                        os.path.relpath(os.path.join(root, name), self.path)
                    )
                    if rel not in live:
                        os.remove(os.path.join(root, name))
                        if name.endswith(".parquet"):
                            removed += 1
                try:
                    os.rmdir(root)  # only succeeds when emptied
                except OSError:
                    pass
        vdir = os.path.join(self.path, _VERSIONS)
        if os.path.isdir(vdir):
            archived = sorted(
                (
                    int(f[:-5])
                    for f in os.listdir(vdir)
                    if f.endswith(".json") and f[:-5].isdigit()
                ),
                reverse=True,
            )
            for v in archived[keep_versions:]:
                os.remove(os.path.join(vdir, f"{v}.json"))
        return removed
