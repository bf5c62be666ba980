"""Tier A — engine-backed queries: the MapReduceView incremental store
exercised end-to-end and checked against a latest-wins SQL oracle.

Each query builds a fresh persistent view store in a temp dir, feeds
it multiple upsert batches (the reference's repeated ``Execute`` call
pattern, MapReduce/Program.cs:31,35), and returns the *materialized*
result — so the driver's oracle comparison validates the whole
incremental-maintenance path (latest-wins replace, key migration,
dirty-span recompute, persisted finals), not just a one-shot plan.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import MapReduceView
from ..plans.view import maintenance_session, on_session
from ..plans.store import ManifestTable
from ..sources import Catalog
from . import register


def _store_scoped(*tables: str):
    """Decorator for the store-lifecycle attestation operators: hand
    the operator's BUILD phase (temp-store writes, merges, compacts —
    chains of small jobs) the maintenance session sized from the
    operator's ACTUAL source tables' parquet bytes (driver-side; ~4x
    decompression allowance; max over the tables — r12 advice: sizing
    orders-based operators from customer pinned a larger build to a
    small session). Bench-scale scenarios stop paying full-width AQE
    stage cascades per action; a large source keeps the caller's
    session (maintenance_session shrinks only). The RETURNED DataFrame
    is rebound to the caller's session, so serving reads keep its full
    configuration; the caller's session conf is never changed."""
    import functools
    import math

    tables = tables or ("customer",)

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            try:
                sz = max(
                    os.path.getsize(os.path.join(sf_dir, f"{t}.parquet"))
                    for t in tables
                )
                n = max(8, math.ceil(sz * 4 / (64 * 1024 * 1024)))
            except OSError:
                n = None
            ms = maintenance_session(spark, n)
            return on_session(fn(ms, sf_dir), spark)

        return wrapper

    return deco



def _latest_event_per_user(df: DataFrame) -> DataFrame:
    """In-batch user map: keep each user's latest event (max event_id).
    Cross-batch, MapReduceView replace semantics make the overall
    result 'latest event per user over all batches'.

    ``max_by`` rather than a row_number window: a hash aggregate with
    map-side partials instead of a sort-based window shuffle — the
    same latest-wins answer (event_id is unique), a strictly better
    plan at scale."""
    return (
        df.groupBy("user_id")
        .agg(F.max_by(F.struct("event_type", "value"), "event_id").alias("s"))
        .select(
            F.col("user_id").cast("string").alias("doc_id"),
            F.col("s.event_type").alias("event_type"),
            F.col("s.value").alias("value"),
        )
    )


def _parquet_col_max(path: str, col: str):
    """Exact column max from parquet row-group statistics — a driver-
    side footer read, no Spark job. Returns None (caller falls back to
    an aggregate job) when the file/column lacks min-max stats."""
    import pyarrow.parquet as pq

    files = (
        [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        ]
        if os.path.isdir(path)
        else [path]
    )
    mx = None
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        if col not in names:
            return None
        ci = names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                return None
            mx = st.max if mx is None else max(mx, st.max)
    return mx


_VIEW_CACHE: dict[tuple[int, str, int], MapReduceView] = {}


def _events_view(spark: SparkSession, sf_dir: str, n_batches: int = 3) -> MapReduceView:
    """Replay events as ``n_batches`` ordered upsert batches into a
    fresh store (doc = user, group key = event_type of latest event) —
    an initial load plus two incremental rounds, one more Execute than
    the reference demo's own two-call pattern (Program.cs:31,35).

    The built store is cached per (session, sf_dir): a persisted view
    is built once and then *queried* — rebuilding it for every read
    would defeat the materialization (the reference likewise keeps one
    store across Execute/Query calls, MapReduce/Program.cs:26-58).

    The aggregates are written in re-reduction-closed form (cnt = 1
    per doc then sum(cnt); sum(value_sum)), which the engine's
    two_level=None auto mode would turn into the two-level
    materialized reduce tree (plans/view.py _rereduce_closed) — the
    right layout at 100 TB, where finals re-reduce O(partials)
    instead of O(dirty-span rows). This build PINS two_level=False
    per direct measurement at bench scale (sf0.1, 3-batch build,
    steady state): single-level 5.0-5.8 s vs two-level 6.9-7.4 s —
    the L1 table's extra read/write jobs are pure fixed cost when a
    span's map rows already fit one task. The two-level path is
    driver-attested by q_rereduce_tree; the crossover math lives in
    the README scaling table."""
    cache_key = (id(spark), sf_dir, n_batches)
    cached = _VIEW_CACHE.get(cache_key)
    if cached is not None:
        return cached
    # The build reads events once per batch plus the bounds probe;
    # persist for the build's duration so the parquet scan+decode runs
    # once (released in the finally below).
    ev = Catalog(spark, sf_dir).events.persist()
    store = tempfile.mkdtemp(prefix="upmr_events_")
    view = MapReduceView(
        spark,
        store,
        id_col="doc_id",
        map_fn=_latest_event_rereducible,
        group_cols=["event_type"],
        agg_exprs=[
            F.sum("cnt").alias("cnt"),
            F.sum("value_sum").alias("value_sum"),
        ],
        n_key_spans=8,
        n_doc_spans=8,
        two_level=False,  # measured: see docstring
    )
    try:
        # Batch boundary = max(event_id) + 1. The parquet footers carry
        # an EXACT int64 max for every row group, so read it driver-side
        # (metadata only, zero Spark jobs) instead of paying a 3-job AQE
        # aggregate before the build even starts (optimization guide
        # §1.2: don't compute things a metadata read already knows).
        # Identical value => identical batch slicing => identical
        # results; files without stats fall back to the Spark job.
        hi_stat = _parquet_col_max(
            os.path.join(sf_dir, "events.parquet"), "event_id"
        )
        if hi_stat is None:
            hi_stat = ev.selectExpr("max(event_id)").collect()[0][0]
        hi = hi_stat + 1
        step = max(1, hi // n_batches + 1)
        for b in range(n_batches):
            lo_b, hi_b = b * step, (b + 1) * step
            batch = ev.filter(
                (F.col("event_id") >= lo_b) & (F.col("event_id") < hi_b)
            ).select(
                F.col("user_id").cast("string").alias("doc_id"),
                "event_id",
                "user_id",
                "event_type",
                "value",
            )
            view.execute(batch)
    finally:
        ev.unpersist()
    _VIEW_CACHE[cache_key] = view
    return view


_LATEST_CTE = (
    "WITH latest AS (SELECT user_id, event_type, value FROM "
    "(SELECT user_id, event_type, value, "
    "row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn "
    "FROM events) WHERE rn = 1)"
)


@register(
    "q_upsert_recount",
    oracle=(
        f"{_LATEST_CTE} "
        "SELECT event_type AS group_key, CAST(count(*) AS BIGINT) AS cnt, "
        "round(CAST(sum(value) AS DOUBLE), 2) AS value_sum "
        "FROM latest GROUP BY event_type"
    ),
    doc="THE raison d'être (Executer.cs:87-110 + 240-261): events replayed "
    "as 3 upsert batches per user; every re-submission replaces the user's "
    "previous contribution; materialized groups equal latest-wins oracle.",
)
def q_upsert_recount(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = _events_view(spark, sf_dir)
    return view.final_df().select(
        F.col("event_type").alias("group_key"),
        F.col("cnt"),
        F.round("value_sum", 2).alias("value_sum"),
    )


@register(
    "q_key_migration",
    oracle=(
        "SELECT CAST(CASE WHEN c_custkey % 10 = 0 "
        "THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS INTEGER) AS group_key, "
        "CAST(count(*) AS BIGINT) AS cnt "
        "FROM customer GROUP BY 1"
    ),
    doc="Group-key change on update (Program.cs:35-44): every 10th customer "
    "is re-submitted with a new nation; old group shrinks, new grows, grand "
    "total conserved.",
)
@_store_scoped()
def q_key_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).customer
    store = tempfile.mkdtemp(prefix="upmr_migrate_")
    view = MapReduceView(
        spark,
        store,
        id_col="doc_id",
        group_cols=["group_key"],
        agg_exprs=[F.count(F.lit(1)).alias("cnt")],
        n_key_spans=8,
        n_doc_spans=8,
    )
    base = c.select(
        F.col("c_custkey").cast("string").alias("doc_id"),
        F.col("c_nationkey").cast("int").alias("group_key"),
    )
    view.execute(base)
    migrated = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").cast("string").alias("doc_id"),
        ((F.col("c_nationkey") + 1) % 25).cast("int").alias("group_key"),
    )
    view.execute(migrated)
    return view.final_df().select("group_key", "cnt")


@register(
    "q_store_compaction",
    oracle=(
        "SELECT CAST(CASE WHEN c_custkey % 10 = 0 "
        "THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS INTEGER) AS group_key, "
        "CAST(count(*) AS BIGINT) AS cnt "
        "FROM customer GROUP BY 1"
    ),
    doc="Small-file compaction attested mid-lifecycle (the OPTIMIZE "
    "maintenance job append-mode ingest needs at 100 TB): three disjoint "
    "insert-only batches accrete one map file per touched pair per batch; "
    "ManifestTable.compact folds them 1-per-span (asserted, so a no-op "
    "compaction fails the gate loudly); a migration batch then runs "
    "INCREMENTALLY on the compacted store — proving compaction changed "
    "the file layout and nothing else, including the dirty-span "
    "bookkeeping the next Execute depends on (Executer.cs:305-367).",
)
@_store_scoped()
def q_store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).customer
    store = tempfile.mkdtemp(prefix="upmr_compact_")
    view = MapReduceView(
        spark,
        store,
        id_col="doc_id",
        group_cols=["group_key"],
        agg_exprs=[F.count(F.lit(1)).alias("cnt")],
        n_key_spans=8,
        n_doc_spans=8,
    )
    # Three disjoint insert-only batches: new docs in already-populated
    # pspans take the append commit path, accreting files per span.
    for b in range(3):
        view.execute(
            c.filter(F.col("c_custkey") % 3 == b).select(
                F.col("c_custkey").cast("string").alias("doc_id"),
                F.col("c_nationkey").cast("int").alias("group_key"),
            )
        )
    pre = view._map_t.stats()
    result = view._map_t.compact(spark, min_files=2)
    if result["spans_compacted"] == 0 or not (
        result["files_after"] < result["files_before"]
    ):
        raise RuntimeError(
            f"compaction was a no-op: {pre} -> {result}; the append "
            "ingest path no longer accretes files, so this query is "
            "not attesting what it claims"
        )
    view.compact_index()
    reclaimed = view.vacuum()
    if reclaimed == 0:
        raise RuntimeError("vacuum after compaction reclaimed nothing")
    # Post-compaction incremental revision: every 10th customer
    # migrates group — runs against the compacted layout.
    migrated = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").cast("string").alias("doc_id"),
        ((F.col("c_nationkey") + 1) % 25).cast("int").alias("group_key"),
    )
    view.execute(migrated)
    return view.final_df().select("group_key", "cnt")


# days from the 1990-01-01 epoch the o_day stat column counts from
_DAY_1997_LO = 2557  # (1997-01-01 - 1990-01-01).days
_DAY_1998_LO = 2922  # (1998-01-01 - 1990-01-01).days


@register(
    "q_store_stats_prune",
    oracle=(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt, "
        "CAST(floor(sum(CAST(o_totalprice AS DECIMAL(18,6))) * 100) "
        "AS BIGINT) AS price_cents "
        "FROM orders "
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01' "
        "GROUP BY o_orderpriority"
    ),
    doc="Manifest-level file skipping (the Iceberg-manifest trick in "
    "OUR store): orders land hash-spanned but SORTED by day within "
    "each span and split by max_records_per_file, so each file covers "
    "a contiguous day run whose min/max bounds ride in the manifest; "
    "a one-year read then resolves to a fraction of the files with "
    "ZERO footer opens or listings at read time (asserted <= 3/4 of "
    "the files, so a stats regression fails the gate). Oracle = the "
    "same range filter on the raw table — pruning shrinks the file "
    "set, never the answer. This is the second pruning axis next to "
    "span membership: span = WHICH key, stats = WHICH range.",
)
@_store_scoped("orders")
def q_store_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    base = tempfile.mkdtemp(prefix="upmr_statsprune_")
    t = ManifestTable(
        os.path.join(base, "orders"), "ospan", stat_cols=("o_day",)
    )
    df = o.select(
        (F.col("o_orderkey") % 8).alias("ospan"),
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01")).alias("o_day"),
        "o_orderpriority",
        "o_totalprice",
    )
    total = df.count()
    t.commit(
        replace=t.write_data(
            df,
            sort_cols=["o_day"],
            max_records_per_file=max(50, total // 32),
        )
    )
    lo, hi = _DAY_1997_LO, _DAY_1998_LO - 1
    n_all = len(t.select_files())
    sel = t.select_files(where=("o_day", lo, hi))
    if not (0 < len(sel) <= n_all * 3 // 4):
        raise RuntimeError(
            f"manifest stats pruned {n_all} files to {len(sel)} — the "
            "sort-within-span layout or the stat capture is broken, so "
            "this query would be attesting nothing"
        )
    return (
        t.read(spark, where=("o_day", lo, hi))
        .filter(F.col("o_day").between(lo, hi))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.floor(F.sum(F.col("o_totalprice").cast("decimal(18,6)")) * 100)
            .cast("bigint")
            .alias("price_cents"),
        )
    )


def _merge_scenario(
    spark: SparkSession, sf_dir: str, prefix: str
) -> tuple[ManifestTable, DataFrame, DataFrame]:
    """Shared target+source construction for the MERGE family
    (q_store_merge / q_store_cdc / q_cdc_incremental_rollup): a
    spanned customer table in integer cents, a source of updates
    (+1000 cents, relabel to UPDATED; dead when the ORIGINAL balance
    is negative) and inserts (keys shifted by 10_000_000, which is
    ≡ 0 mod 8 so the span is preserved), both restricted to spans
    0-2. All three queries' oracles encode exactly these parity
    rules, so the scenario lives in ONE place — drifting one copy
    would silently desynchronize the other two attestations.
    Returns (table-with-v1-committed, target_df, source_df)."""
    c = Catalog(spark, sf_dir).customer
    base = tempfile.mkdtemp(prefix=prefix)
    t = ManifestTable(os.path.join(base, "customers"), "cspan")
    tgt = c.select(
        (F.col("c_custkey") % 8).cast("int").alias("cspan"),
        F.col("c_custkey").alias("k"),
        F.floor(F.col("c_acctbal").cast("decimal(18,6)") * 100)
        .cast("bigint")
        .alias("bal_cents"),
        F.col("c_mktsegment").alias("seg"),
    )
    t.commit(replace=t.write_data(tgt))
    upd = tgt.filter((F.col("k") % 3 == 0) & (F.col("k") % 8 < 3)).select(
        "cspan",
        "k",
        (F.col("bal_cents") + F.lit(1000)).alias("bal_cents"),
        F.lit("UPDATED").alias("seg"),
        (F.col("bal_cents") < 0).alias("dead"),
    )
    ins = tgt.filter((F.col("k") % 7 == 0) & (F.col("k") % 8 < 3)).select(
        "cspan",
        (F.col("k") + F.lit(10_000_000)).alias("k"),
        "bal_cents",
        F.lit("NEW").alias("seg"),
        F.lit(False).alias("dead"),
    )
    return t, tgt, upd.unionByName(ins)


@register(
    "q_store_merge",
    oracle=(
        "WITH t AS ("
        "  SELECT c_custkey AS k,"
        "         CAST(floor(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT)"
        "           AS bal_cents,"
        "         c_mktsegment AS seg"
        "  FROM customer"
        "), s AS ("
        "  SELECT k, bal_cents + 1000 AS bal_cents, 'UPDATED' AS seg,"
        "         bal_cents < 0 AS dead"
        "  FROM t WHERE k % 3 = 0 AND k % 8 < 3"
        "  UNION ALL"
        "  SELECT k + 10000000 AS k, bal_cents, 'NEW' AS seg, FALSE AS dead"
        "  FROM t WHERE k % 7 = 0 AND k % 8 < 3"
        "), merged AS ("
        "  SELECT COALESCE(s.seg, t.seg) AS seg,"
        "         COALESCE(s.bal_cents, t.bal_cents) AS bal_cents"
        "  FROM t FULL OUTER JOIN s ON t.k = s.k"
        "  WHERE NOT COALESCE(s.dead, FALSE)"
        ") "
        "SELECT seg, CAST(count(*) AS BIGINT) AS cnt, "
        "CAST(sum(bal_cents) AS BIGINT) AS bal_total "
        "FROM merged GROUP BY seg"
    ),
    doc="Row-level MERGE INTO on the engine's own store (Delta "
    "semantics, the reference's latest-wins update rule "
    "Executer.cs:240-261 generalized to arbitrary tables): one merge "
    "carries updates (+1000 cents, segment relabel), inserts (shifted "
    "keys), and conditional deletes (negative balances) against a "
    "spanned customer table. Span-granular copy-on-write is asserted "
    "in-query: the source only names spans 0-2, so spans 3-7's files "
    "must survive byte-identical and spans_touched must be exactly 3 "
    "— a merge that rewrites the whole table fails the gate. Oracle = "
    "the same merge expressed as FULL OUTER JOIN + COALESCE in SQL. "
    "All balance math in integer cents (floor(decimal*100)) so both "
    "engines agree exactly.",
)
@_store_scoped()
def q_store_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _tgt, src = _merge_scenario(spark, sf_dir, "upmr_merge_")
    untouched_before = {
        s: fs for s, fs in t.spans().items() if s >= 3
    }
    stats = t.merge(src, on=["k"], delete_where="dead")
    untouched_after = {s: fs for s, fs in t.spans().items() if s >= 3}
    if (
        stats["spans_touched"] != 3
        or untouched_after != untouched_before
        or stats["updated"] == 0
        or stats["inserted"] == 0
    ):
        raise RuntimeError(
            f"merge copy-on-write contract violated: {stats}; untouched "
            "spans changed or no rows merged — the query is not "
            "attesting what it claims"
        )
    return (
        t.read(spark)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("bal_cents").cast("bigint").alias("bal_total"),
        )
    )


@register(
    "q_store_cdc",
    oracle=(
        "WITH t AS ("
        "  SELECT c_custkey AS k,"
        "         CAST(floor(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT)"
        "           AS bal_cents,"
        "         c_mktsegment AS seg"
        "  FROM customer"
        "), m AS (SELECT * FROM t WHERE k % 3 = 0 AND k % 8 < 3), "
        "ins AS ("
        "  SELECT k, bal_cents + 1000 AS bal_cents, 'UPDATED' AS seg"
        "  FROM m WHERE NOT (bal_cents < 0)"
        "  UNION ALL"
        "  SELECT k + 10000000 AS k, bal_cents, 'NEW' AS seg"
        "  FROM t WHERE k % 7 = 0 AND k % 8 < 3"
        "), chg AS ("
        "  SELECT 'insert' AS change_type, seg, bal_cents FROM ins"
        "  UNION ALL"
        "  SELECT 'delete' AS change_type, seg, bal_cents FROM m"
        ") "
        "SELECT change_type, seg, CAST(count(*) AS BIGINT) AS cnt, "
        "CAST(sum(bal_cents) AS BIGINT) AS bal_total "
        "FROM chg GROUP BY change_type, seg"
    ),
    doc="CHANGE DATA FEED from the store's manifests (Delta CDF "
    "semantics without a log): after the q_store_merge scenario runs "
    "(updates+inserts+deletes on spans 0-2), changes(from_version) "
    "returns the delta an incremental downstream consumer needs — "
    "updates as delete(old image)+insert(new image), rows rewritten "
    "identically by the span rewrite cancelled out by the multiset "
    "diff. Cost is CHANGED FILES only (asserted in-query: the span "
    "set whose file lists differ between the versions is exactly "
    "{0,1,2} — a CDC that reads untouched spans fails the gate). The "
    "oracle derives the same delta from the merge's parity "
    "definitions: deletes = every matched source key's old image, "
    "inserts = surviving updates' new image plus the shifted-key "
    "inserts. Integer-cents math both sides.",
)
@_store_scoped()
def q_store_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _tgt, src = _merge_scenario(spark, sf_dir, "upmr_cdc_")
    v1 = t.version
    t.merge(src, on=["k"], delete_where="dead")
    before, after = t.spans(version=v1), t.spans()
    diff_spans = {
        s
        for s in set(before) | set(after)
        if before.get(s) != after.get(s)
    }
    if diff_spans != {0, 1, 2}:
        raise RuntimeError(
            f"CDC would read spans {sorted(diff_spans)}, expected "
            "exactly [0, 1, 2] — the merge stopped being span-granular "
            "so this query no longer attests changed-files-only cost"
        )
    return (
        t.changes(spark, from_version=v1)
        .groupBy(
            F.col("_change_type").alias("change_type"),
            "seg",
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("bal_cents").cast("bigint").alias("bal_total"),
        )
    )


@register(
    "q_cdc_incremental_rollup",
    oracle=(
        "WITH t AS ("
        "  SELECT c_custkey AS k,"
        "         CAST(floor(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT)"
        "           AS bal_cents,"
        "         c_mktsegment AS seg"
        "  FROM customer"
        "), s AS ("
        "  SELECT k, bal_cents + 1000 AS bal_cents, 'UPDATED' AS seg,"
        "         bal_cents < 0 AS dead"
        "  FROM t WHERE k % 3 = 0 AND k % 8 < 3"
        "  UNION ALL"
        "  SELECT k + 10000000 AS k, bal_cents, 'NEW' AS seg, FALSE AS dead"
        "  FROM t WHERE k % 7 = 0 AND k % 8 < 3"
        "), merged AS ("
        "  SELECT COALESCE(s.seg, t.seg) AS seg,"
        "         COALESCE(s.bal_cents, t.bal_cents) AS bal_cents"
        "  FROM t FULL OUTER JOIN s ON t.k = s.k"
        "  WHERE NOT COALESCE(s.dead, FALSE)"
        ") "
        "SELECT seg, CAST(count(*) AS BIGINT) AS cnt, "
        "CAST(sum(bal_cents) AS BIGINT) AS bal_total "
        "FROM merged GROUP BY seg"
    ),
    doc="Incremental DOWNSTREAM rollup maintained from the change data "
    "feed — the reason changes() exists: a consumer holds a per-"
    "segment (count, balance-total) aggregate; after the merge runs "
    "upstream, the consumer applies ONLY the CDC delta (inserts add, "
    "deletes subtract — count and sum are re-reducible with signed "
    "weights, the reference's own Reduce contract MapReduceTask.cs:10 "
    "applied across tables) instead of re-scanning the table. The "
    "oracle is the FULL RECOMPUTE of the post-merge table, so a green "
    "row IS the incremental==full invariant at the CDC level. "
    "Segments the merge never touched survive only via the base "
    "snapshot's rollup — if the feed leaked phantom rows or dropped "
    "real ones, their totals would drift and the hash would fail. "
    "Cost: base rollup once, then O(changed files) per refresh — the "
    "materialized-view maintenance loop a 100 TB deployment runs "
    "instead of nightly full rebuilds.",
)
@_store_scoped()
def q_cdc_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _tgt, src = _merge_scenario(spark, sf_dir, "upmr_cdcroll_")
    v1 = t.version
    # the consumer's base rollup, materialized BEFORE the merge
    rollup_path = os.path.join(t.path, "..", "rollup")
    t.read(spark).groupBy("seg").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("bal_cents").alias("bal_total"),
    ).write.parquet(rollup_path)
    t.merge(src, on=["k"], delete_where="dead")
    # refresh = base rollup + signed CDC delta; no table re-scan
    delta = t.changes(spark, from_version=v1).select(
        "seg",
        "bal_cents",
        F.when(F.col("_change_type") == "insert", F.lit(1))
        .otherwise(F.lit(-1))
        .alias("w"),
    )
    refreshed = (
        spark.read.parquet(rollup_path)
        .select("seg", "cnt", "bal_total")
        .unionByName(
            delta.groupBy("seg").agg(
                F.sum("w").cast("bigint").alias("cnt"),
                F.sum(F.col("bal_cents") * F.col("w"))
                .cast("bigint")
                .alias("bal_total"),
            )
        )
        .groupBy("seg")
        .agg(
            F.sum("cnt").cast("bigint").alias("cnt"),
            F.sum("bal_total").cast("bigint").alias("bal_total"),
        )
        .filter(F.col("cnt") > 0)
    )
    return refreshed


@register(
    "q_store_clone",
    oracle=(
        "WITH t AS ("
        "  SELECT c_custkey AS k,"
        "         CAST(floor(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT)"
        "           AS bal_cents,"
        "         c_mktsegment AS seg"
        "  FROM customer"
        "), s AS ("
        "  SELECT k, bal_cents + 1000 AS bal_cents, 'UPDATED' AS seg,"
        "         bal_cents < 0 AS dead"
        "  FROM t WHERE k % 3 = 0 AND k % 8 < 3"
        "  UNION ALL"
        "  SELECT k + 10000000 AS k, bal_cents, 'NEW' AS seg, FALSE AS dead"
        "  FROM t WHERE k % 7 = 0 AND k % 8 < 3"
        "), merged AS ("
        "  SELECT COALESCE(s.seg, t.seg) AS seg,"
        "         COALESCE(s.bal_cents, t.bal_cents) AS bal_cents"
        "  FROM t FULL OUTER JOIN s ON t.k = s.k"
        "  WHERE NOT COALESCE(s.dead, FALSE)"
        ") "
        "SELECT 'base' AS branch, seg, CAST(count(*) AS BIGINT) AS cnt, "
        "CAST(sum(bal_cents) AS BIGINT) AS bal_total FROM t GROUP BY seg "
        "UNION ALL "
        "SELECT 'merged' AS branch, seg, CAST(count(*) AS BIGINT) AS cnt, "
        "CAST(sum(bal_cents) AS BIGINT) AS bal_total "
        "FROM merged GROUP BY seg"
    ),
    doc="ZERO-COPY shallow clone with branch isolation attested: the "
    "customer table is cloned (every file HARDLINKED — inode equality "
    "asserted in-query, so a clone that copied bytes fails the gate), "
    "the q_store_merge scenario runs against THE CLONE ONLY, and the "
    "result reads both branches — the base must still answer as the "
    "un-merged table (its span file lists asserted byte-identical) "
    "while the clone answers as the merged one. This is the Delta "
    "SHALLOW CLONE workflow: at 100 TB an experiment/staging branch "
    "costs O(files) metadata, never a data copy, and the store's "
    "immutability contract (no in-place writes, per-branch vacuum "
    "unlinks only its own name) is what makes hardlink sharing safe. "
    "Oracle = base aggregate UNION merged aggregate.",
)
@_store_scoped()
def q_store_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _tgt, src = _merge_scenario(spark, sf_dir, "upmr_clone_")
    c = t.clone_to(t.path + "_branch")
    f_orig = t.select_files()[0]
    f_branch = os.path.join(c.path, os.path.relpath(f_orig, t.path))
    if os.stat(f_orig).st_ino != os.stat(f_branch).st_ino:
        raise RuntimeError(
            "clone copied bytes instead of hardlinking — the zero-copy "
            "property this query attests is gone"
        )
    base_spans = t.spans()
    c.merge(src, on=["k"], delete_where="dead")
    if t.spans() != base_spans:
        raise RuntimeError(
            "merging the CLONE changed the base table's manifest — "
            "branch isolation is broken"
        )

    def agg(tab: ManifestTable, label: str) -> DataFrame:
        return (
            tab.read(spark)
            .groupBy("seg")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("bal_cents").cast("bigint").alias("bal_total"),
            )
            .select(F.lit(label).alias("branch"), "seg", "cnt", "bal_total")
        )

    return agg(t, "base").unionByName(agg(c, "merged"))


@register(
    "q_store_restore",
    oracle=(
        "SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS cnt, "
        "CAST(sum(floor(CAST(c_acctbal AS DECIMAL(18,6)) * 100)) "
        "AS BIGINT) AS bal_total "
        "FROM customer GROUP BY c_mktsegment"
    ),
    doc="RESTORE TABLE TO VERSION (Delta RESTORE semantics): after the "
    "merge scenario mutates the customer table (v2), restore(v1) "
    "commits a NEW version whose state equals the original — rollback "
    "as a forward-moving commit, not history rewriting. Asserted "
    "in-query: (a) zero data movement — the restored manifest's "
    "span->file lists are IDENTICAL to v1's (re-referenced, not "
    "rewritten), the property that makes restoring a 100 TB table "
    "O(manifest); (b) history preserved — the version advances to 3 "
    "and the rolled-back v2 snapshot still time-travels to the merged "
    "state (its spans differ from v1's). Oracle = the ORIGINAL "
    "customer aggregate, because a correct restore erases the merge "
    "from the serving state; integer cents both sides. Reference "
    "tie-in: the engine's recompute-from-durable-state contract "
    "(Executer.cs:165-203) extended to point-in-time recovery.",
)
@_store_scoped()
def q_store_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _tgt, src = _merge_scenario(spark, sf_dir, "upmr_restore_")
    v1 = t.version
    t.merge(src, on=["k"], delete_where="dead")
    v2 = t.version
    v3 = t.restore(v1)
    if v3 != v2 + 1 or t.version != v3:
        raise RuntimeError(
            f"restore must be a forward commit: v1={v1} v2={v2} v3={v3}"
        )
    if t.spans() != t.spans(version=v1):
        raise RuntimeError(
            "restored manifest re-references different files than the "
            "target snapshot — restore is not zero-copy"
        )
    if t.spans(version=v2) == t.spans(version=v1):
        raise RuntimeError(
            "rolled-back version lost its own membership — history "
            "was rewritten, not preserved"
        )
    return (
        t.read(spark)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("bal_cents").cast("bigint").alias("bal_total"),
        )
    )


@register(
    "q_store_delete_vectors",
    oracle=(
        "SELECT o_orderpriority AS priority, "
        "CAST(count(*) AS BIGINT) AS cnt, "
        "CAST(sum(floor(CAST(o_totalprice AS DECIMAL(18,6)) * 100)) "
        "AS BIGINT) AS price_cents "
        "FROM orders WHERE o_orderpriority <> '1-URGENT' "
        "GROUP BY o_orderpriority"
    ),
    doc="MERGE-ON-READ deletes (Delta deletion-vectors / Iceberg "
    "equality-deletes semantics in OUR store): deleting every "
    "1-URGENT order (~20% of rows, spread across ALL spans) writes "
    "only tombstone key files — asserted in-query: the data-file "
    "lists are BYTE-IDENTICAL after the delete, which is the property "
    "that makes small deletes affordable at 100 TB (the copy-on-write "
    "path would rewrite every span). Readers apply the tombstones as "
    "an anti-join; time travel to the pre-delete snapshot still shows "
    "the rows. Compaction then MATERIALIZES the deletes (rewrites "
    "spans minus deleted rows, clears tombstones — also asserted) and "
    "the answer is unchanged, which is the MoR contract: write fast "
    "now, restore zero read-time overhead later. Oracle = the plain "
    "filtered aggregate; integer cents both sides.",
)
@_store_scoped("orders")
def q_store_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    base = tempfile.mkdtemp(prefix="upmr_dv_")
    t = ManifestTable(os.path.join(base, "orders"), "ospan")
    tgt = o.select(
        (F.col("o_orderkey") % 8).cast("int").alias("ospan"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice").cast("decimal(18,6)") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )
    t.commit(replace=t.write_data(tgt))
    files_before = t.select_files()
    urgent_keys = tgt.filter(F.col("priority") == "1-URGENT").select(
        "ospan", "k"
    )
    t.delete_keys(urgent_keys, on=["k"])
    if t.select_files() != files_before:
        raise RuntimeError(
            "MoR delete rewrote data files — the zero-rewrite property "
            "this query exists to attest is gone"
        )
    hidden = t.read(spark).filter(F.col("priority") == "1-URGENT").count()
    if hidden != 0:
        raise RuntimeError(f"{hidden} tombstoned rows survived the read")
    result = t.compact(spark, min_files=1)
    if "deletes" in t._load() or result["spans_compacted"] == 0:
        raise RuntimeError(
            "compaction did not materialize the tombstones"
        )
    return (
        t.read(spark)
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("price_cents").cast("bigint").alias("price_cents"),
        )
    )


@register(
    "q_store_schema_evolution",
    oracle=(
        "SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END "
        "AS priority, CAST(count(*) AS BIGINT) AS cnt, "
        "CAST(sum(floor(CAST(o_totalprice AS DECIMAL(18,6)) * 100)) "
        "AS BIGINT) AS price_cents "
        "FROM orders GROUP BY 1"
    ),
    doc="Add-column schema evolution on the store with ZERO rewrites "
    "(Iceberg semantics): a legacy batch lands orders without the "
    "priority column; a later batch appends files THAT HAVE it, which "
    "widens the schema recorded in the manifest; the read resolves "
    "every file under the union schema — legacy files NULL-backfilled "
    "by the parquet reader, no data file touched. Asserted in-query: "
    "the current read carries the new column, time travel to the "
    "pre-evolution snapshot still reads the OLD schema (archived "
    "manifests keep their own), so a widening that rewrote history "
    "fails the gate. The NULL priority group in the result IS the "
    "legacy half — the oracle derives the same split from parity.",
)
@_store_scoped("orders")
def q_store_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    base = tempfile.mkdtemp(prefix="upmr_evolve_")
    t = ManifestTable(os.path.join(base, "orders"), "ospan")
    cents = (
        F.floor(F.col("o_totalprice").cast("decimal(18,6)") * 100)
        .cast("bigint")
        .alias("price_cents")
    )
    legacy = o.filter(F.col("o_orderkey") % 2 == 0).select(
        (F.col("o_orderkey") % 8).cast("int").alias("ospan"),
        F.col("o_orderkey").alias("k"),
        cents,
    )
    t.commit(replace=t.write_data(legacy))
    v1 = t.version
    widened = o.filter(F.col("o_orderkey") % 2 == 1).select(
        (F.col("o_orderkey") % 8).cast("int").alias("ospan"),
        F.col("o_orderkey").alias("k"),
        cents,
        F.col("o_orderpriority").alias("priority"),
    )
    t.commit(append=t.write_data(widened))
    old_cols = t.read(spark, version=v1).columns
    cur = t.read(spark)
    if old_cols != ["ospan", "k", "price_cents"] or cur.columns != [
        "ospan",
        "k",
        "price_cents",
        "priority",
    ]:
        raise RuntimeError(
            f"schema evolution broke snapshot isolation: v{v1} reads "
            f"{old_cols}, current reads {cur.columns} — the archived "
            "manifest no longer keeps its own schema"
        )
    return cur.groupBy("priority").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("price_cents").cast("bigint").alias("price_cents"),
    )


def _latest_event_rereducible(df: DataFrame) -> DataFrame:
    """Like :func:`_latest_event_per_user` but emitting columns named
    after the aggregate outputs (cnt=1, value_sum=value) so sum-based
    aggs are closed under re-application — the reference's
    re-reducible Reduce contract (MapReduceTask.cs:10)."""
    return _latest_event_per_user(df).select(
        "doc_id",
        "event_type",
        F.lit(1).alias("cnt"),
        F.col("value").alias("value_sum"),
    )


@register(
    "q_rereduce_tree",
    oracle=(
        f"{_LATEST_CTE} "
        "SELECT event_type AS group_key, CAST(count(*) AS BIGINT) AS cnt, "
        "round(CAST(sum(value) AS DOUBLE), 2) AS value_sum "
        "FROM latest GROUP BY event_type"
    ),
    doc="The upsert replay through the *materialized* two-level reduce "
    "tree (two_level=True: reduce_l1 per-(kspan, doc-bucket) partials, "
    "the reference's ReduceResults/One, Executer.cs:80-81, with "
    "per-bucket dirty granularity). Same latest-wins oracle as "
    "q_upsert_recount — the tree is an execution detail, not a "
    "semantic.",
)
def q_rereduce_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    store = tempfile.mkdtemp(prefix="upmr_tree_")
    view = MapReduceView(
        spark,
        store,
        id_col="doc_id",
        map_fn=_latest_event_rereducible,
        group_cols=["event_type"],
        agg_exprs=[
            F.sum("cnt").alias("cnt"),
            F.sum("value_sum").alias("value_sum"),
        ],
        n_key_spans=8,
        n_doc_spans=8,
        two_level=True,
        n_sub_buckets=16,
    )
    hi = ev.selectExpr("max(event_id)").collect()[0][0] + 1
    step = max(1, hi // 2 + 1)
    for b in range(2):
        batch = ev.filter(
            (F.col("event_id") >= b * step) & (F.col("event_id") < (b + 1) * step)
        ).select(
            F.col("user_id").cast("string").alias("doc_id"),
            "event_id",
            "user_id",
            "event_type",
            "value",
        )
        view.execute(batch)
    return view.final_df().select(
        F.col("event_type").alias("group_key"),
        F.col("cnt"),
        F.round("value_sum", 2).alias("value_sum"),
    )


@register(
    "q_dedup_incremental",
    oracle=(
        "WITH latest AS ("
        "SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' (rev2)' "
        "ELSE text END AS text FROM documents) "
        "SELECT sha256(text) AS content_hash, "
        "CAST(min(doc_id) AS BIGINT) AS keep_doc_id, "
        "CAST(count(*) AS BIGINT) AS n_copies "
        "FROM latest GROUP BY 1"
    ),
    doc="Incrementally MAINTAINED exact dedup: the Tier-A updatable "
    "view applied to the LLM-pipeline dedup operator. The dedup table "
    "(group key = sha2(text), aggregates = keep-lowest-doc_id + copy "
    "count) is a MapReduceView: the corpus loads as batch 1, then every "
    "5th document is re-submitted with revised text — each revision "
    "REMOVES the doc from its old content-hash group and adds it to the "
    "new one (key migration, Program.cs:35-44), so the materialized "
    "dedup state always reflects the latest version of every doc. At "
    "100 TB this is how ingest keeps a content-hash dedup index "
    "current without recomputing the corpus.",
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    store = tempfile.mkdtemp(prefix="upmr_dedup_inc_")
    view = MapReduceView(
        spark,
        store,
        id_col="doc_id",
        map_fn=lambda df: df.select(
            "doc_id", F.sha2("text", 256).alias("content_hash")
        ),
        group_cols=["content_hash"],
        agg_exprs=[
            F.min(F.col("doc_id").cast("long")).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        ],
        n_key_spans=8,
        n_doc_spans=8,
    )
    view.execute(d.select("doc_id", "text"))
    revised = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" (rev2)")).alias("text")
    )
    view.execute(revised)
    return view.final_df().select("content_hash", "keep_doc_id", "n_copies")


@register(
    "q_store_point_lookup",
    oracle=(
        f"{_LATEST_CTE} "
        "SELECT event_type AS group_key, CAST(count(*) AS BIGINT) AS cnt "
        "FROM latest WHERE event_type = 'purchase' GROUP BY event_type"
    ),
    doc="Query(key) against the persisted store (Executer.cs:370-376): "
    "partition-pruned point lookup of one materialized group, zero "
    "recomputation at read time.",
)
def q_store_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    view = _events_view(spark, sf_dir)
    return view.query("purchase").select(
        F.col("event_type").alias("group_key"), F.col("cnt")
    )


# ---------------------------------------------------------------------------
# map-phase enrichment: the reference's Map is ARBITRARY user code
# (MapReduceTask.cs:8 — any C# in the Map body); here the map_fn is an
# arbitrary DataFrame transform, demonstrated by joining a broadcast
# dimension inside the map phase before grouping.

_EVENT_DIM = {
    "click": "engagement",
    "view": "engagement",
    "purchase": "revenue",
    "signup": "growth",
    "error": "reliability",
}


def _dim_values_sql() -> str:
    rows = ", ".join(f"('{k}', '{v}')" for k, v in _EVENT_DIM.items())
    return f"dim(event_type, category) AS (VALUES {rows})"


def _enrich_map(df: DataFrame) -> DataFrame:
    spark = df.sparkSession
    dim = spark.createDataFrame(
        list(_EVENT_DIM.items()), "event_type string, category string"
    )
    return df.join(F.broadcast(dim), "event_type").select(
        "doc_id",
        "category",
        F.lit(1).alias("cnt"),
        F.col("value").alias("value_sum"),
    )


@register(
    "q_upsert_enriched",
    oracle=(
        f"WITH {_dim_values_sql()} "
        "SELECT category, CAST(count(*) AS BIGINT) AS cnt, "
        "round(CAST(sum(value) AS DOUBLE), 2) AS value_sum "
        "FROM events JOIN dim USING (event_type) GROUP BY category"
    ),
    doc="Map-phase dimension enrichment through the incremental view: "
    "the map_fn joins a broadcast event_type->category dim INSIDE the "
    "map stage (the reference's Map is arbitrary user code, "
    "MapReduceTask.cs:8; ours is an arbitrary DataFrame transform — "
    "including joins), then the view maintains per-category counts "
    "across a 2-batch insert replay. The dim table and the oracle's "
    "VALUES CTE are generated from the same dict, so the engines "
    "cannot drift. At 100 TB the enrichment join stays broadcast "
    "(dims are KB-sized) and adds zero shuffles to the batch path.",
)
def q_upsert_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Catalog(spark, sf_dir).events
    store = tempfile.mkdtemp(prefix="upmr_enrich_")
    view = MapReduceView(
        spark,
        store,
        id_col="doc_id",
        map_fn=_enrich_map,
        group_cols=["category"],
        agg_exprs=[
            F.sum("cnt").alias("cnt"),
            F.sum("value_sum").alias("value_sum"),
        ],
        n_key_spans=8,
        n_doc_spans=8,
        two_level=False,
    )
    [[hi]] = ev.selectExpr("max(event_id)").collect()
    mid = (hi + 1) // 2
    for lo_b, hi_b in ((0, mid), (mid, hi + 1)):
        batch = ev.filter(
            (F.col("event_id") >= lo_b) & (F.col("event_id") < hi_b)
        ).select(
            F.col("event_id").cast("string").alias("doc_id"),
            "event_type",
            "value",
        )
        view.execute(batch)
    return view.final_df().select(
        "category",
        "cnt",
        F.round("value_sum", 2).alias("value_sum"),
    )


# ---------------------------------------------------------------------------
# snapshot time travel — read the view AS OF an earlier batch.

_TT_CACHE: dict[tuple[int, str], tuple[MapReduceView, int]] = {}


def _time_travel_view(spark: SparkSession, sf_dir: str):
    """2-batch events view + the finals-manifest version archived
    after batch 1 (cached per session+sf like _events_view)."""
    key = (id(spark), sf_dir)
    cached = _TT_CACHE.get(key)
    if cached is not None:
        return cached
    ev = Catalog(spark, sf_dir).events
    [[hi]] = ev.selectExpr("max(event_id)").collect()
    mid = (hi + 1) // 2
    store = tempfile.mkdtemp(prefix="upmr_tt_")
    view = MapReduceView(
        spark,
        store,
        id_col="doc_id",
        map_fn=_latest_event_rereducible,
        group_cols=["event_type"],
        agg_exprs=[
            F.sum("cnt").alias("cnt"),
            F.sum("value_sum").alias("value_sum"),
        ],
        n_key_spans=8,
        n_doc_spans=8,
        two_level=False,
    )
    def batch(lo, hi_b):
        return ev.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi_b)
        ).select(
            F.col("user_id").cast("string").alias("doc_id"),
            "event_id",
            "user_id",
            "event_type",
            "value",
        )
    view.execute(batch(0, mid))
    v1 = view._fin_t.version
    view.execute(batch(mid, hi + 1))
    _TT_CACHE[key] = (view, v1)
    return view, v1


@register(
    "q_time_travel",
    oracle=(
        "WITH m AS (SELECT CAST(floor((max(event_id) + 1) / 2) AS BIGINT) "
        "AS mid FROM events), "
        "latest AS (SELECT user_id, event_type, value FROM ("
        "SELECT e.user_id, e.event_type, e.value, "
        "row_number() OVER (PARTITION BY e.user_id ORDER BY e.event_id DESC) "
        "AS rn FROM events e CROSS JOIN m WHERE e.event_id < m.mid) "
        "WHERE rn = 1) "
        "SELECT event_type AS group_key, CAST(count(*) AS BIGINT) AS cnt, "
        "round(CAST(sum(value) AS DOUBLE), 2) AS value_sum "
        "FROM latest GROUP BY event_type"
    ),
    doc="Snapshot time travel, oracle-checked: the view ingests events "
    "in two upsert batches, then reads the ARCHIVED manifest version "
    "from after batch 1 — which must equal the latest-wins aggregation "
    "over only the first half of the log, byte-for-byte, even though "
    "the store has since been overwritten by batch 2. Every commit "
    "archives its manifest (plans/store.py _versions/), so any "
    "historical snapshot is a driver-side file-list resolution away — "
    "no data copies, the same mechanism as Delta/Iceberg VERSION AS "
    "OF; vacuum(keep_versions=N) bounds the archive.",
)
@_store_scoped("events")
def q_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    view, v1 = _time_travel_view(spark, sf_dir)
    return view.final_df(version=v1).select(
        F.col("event_type").alias("group_key"),
        "cnt",
        F.round("value_sum", 2).alias("value_sum"),
    )


@register(
    "q_upsert_delete",
    oracle=(
        "SELECT CAST(c_nationkey AS INTEGER) AS group_key, "
        "CAST(count(*) AS BIGINT) AS cnt "
        "FROM customer WHERE c_custkey % 10 <> 0 GROUP BY c_nationkey"
    ),
    doc="Explicit document deletion through the view engine: load all "
    "customers, then delete_docs() every 10th — each deleted doc's map "
    "output is removed everywhere and its dirty spans re-aggregate, "
    "the reference's delete-and-reschedule (Executer.cs:240-261) "
    "without replacement rows (deletion = an upsert whose map output "
    "is empty). A group whose last doc is deleted disappears from the "
    "finals entirely, exactly like the oracle's WHERE-filtered "
    "aggregate. Upgrades delete_docs from pytest-only to an "
    "externally-attested behavior.",
)
def q_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).customer
    store = tempfile.mkdtemp(prefix="upmr_delete_")
    view = MapReduceView(
        spark,
        store,
        id_col="doc_id",
        group_cols=["group_key"],
        agg_exprs=[F.count(F.lit(1)).alias("cnt")],
        n_key_spans=8,
        n_doc_spans=8,
    )
    base = c.select(
        F.col("c_custkey").cast("string").alias("doc_id"),
        F.col("c_nationkey").cast("int").alias("group_key"),
    )
    view.execute(base)
    doomed = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").cast("string").alias("doc_id")
    )
    view.delete_docs(doomed)
    return view.final_df().select("group_key", "cnt")


@register(
    "q_store_rescale",
    oracle=(
        "SELECT CAST(c_nationkey AS INTEGER) AS group_key, "
        "CAST(count(*) AS BIGINT) AS cnt, "
        "round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS bal_sum "
        "FROM customer GROUP BY c_nationkey"
    ),
    doc="Online store resharding: build the view at small span counts "
    "(4 key-spans x 4 doc-spans — right-sized for a small corpus), "
    "then rescale() to 16x16 — every table rebuilds under the new "
    "span assignment with the same journaled crash safety as a batch "
    "— and read the finals THROUGH the rescaled layout. Results are "
    "layout-invariant (spans are physical placement, not semantics), "
    "which is exactly what the oracle asserts. The grow-with-the-"
    "corpus lever at 100 TB: span counts size the copy-on-write "
    "rewrite unit, so they must track corpus growth; upgrading from "
    "pytest-only to an externally-attested behavior.",
)
@_store_scoped()
def q_store_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir).customer
    store = tempfile.mkdtemp(prefix="upmr_rescale_")
    view = MapReduceView(
        spark,
        store,
        id_col="doc_id",
        group_cols=["group_key"],
        agg_exprs=[
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("bal"), 2).alias("bal_sum"),
        ],
        n_key_spans=4,
        n_doc_spans=4,
    )
    base = c.select(
        F.col("c_custkey").cast("string").alias("doc_id"),
        F.col("c_nationkey").cast("int").alias("group_key"),
        F.col("c_acctbal").alias("bal"),
    )
    view.execute(base)
    view.rescale(n_key_spans=16, n_doc_spans=16)
    return view.final_df().select("group_key", "cnt", "bal_sum")


@register(
    "q_alter_reduce",
    oracle=(
        "SELECT o_orderstatus AS group_key, "
        "CAST(count(*) AS BIGINT) AS cnt, "
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
        "AS total_cents "
        "FROM orders GROUP BY o_orderstatus"
    ),
    doc="Reduce-function evolution WITHOUT re-running Map "
    "(view.alter_reduce): a view is built counting orders per status, "
    "then altered to ALSO sum order value — the new finals are "
    "re-aggregated from the persisted map_results table, never by "
    "replaying source documents through Map. This is why the "
    "reference persists map output at all (Executer.cs:80-83,165-183) "
    "but it never grew the API; at 100 TB, adding a metric to a "
    "materialized view costs one pruned columnar read of map rows "
    "instead of a corpus re-map. Crash-safe via the batch journal "
    "(every live key-span journaled, recovery re-aggregates under "
    "the reopening view's reduce). Order value is exact integer "
    "cents (round(x*100) on a 2-decimal price is exact in both "
    "engines). The oracle checks the POST-alter finals; the gate "
    "therefore attests that map rows carried the value column all "
    "along and the recompute used them.",
)
@_store_scoped("orders")
def q_alter_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).orders
    store = tempfile.mkdtemp(prefix="upmr_alter_")
    view = MapReduceView(
        spark,
        store,
        id_col="doc_id",
        group_cols=["group_key"],
        agg_exprs=[F.sum("cnt").alias("cnt")],
        n_key_spans=4,
        n_doc_spans=4,
    )
    base = o.select(
        F.col("o_orderkey").cast("string").alias("doc_id"),
        F.col("o_orderstatus").alias("group_key"),
        F.lit(1).alias("cnt"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    view.execute(base)
    view.alter_reduce(
        agg_exprs=[
            F.sum("cnt").alias("cnt"),
            F.sum("cents").alias("total_cents"),
        ]
    )
    return view.final_df().select("group_key", "cnt", "total_cents")


from .dedup import _simhash_fp_sql, simhash_fingerprints  # noqa: E402

_SIMHASH_INC_ORACLE = (
    "WITH latest AS (SELECT doc_id, "
    "CASE WHEN doc_id % 7 = 0 THEN text || ' (rev2)' ELSE text END "
    "AS text FROM documents), "
    + _simhash_fp_sql("latest")
    + " SELECT simhash, CAST(min(doc_id) AS BIGINT) AS keep_doc_id, "
    "CAST(count(*) AS BIGINT) AS n_docs FROM fps GROUP BY simhash"
)


@register(
    "q_simhash_incremental",
    oracle=_SIMHASH_INC_ORACLE,
    doc="Incrementally MAINTAINED near-dup fingerprint index: the "
    "Tier-A updatable view with Map = the SimHash pipeline (token "
    "hash + bitwise vote, shared with oracle-checked q_dedup_simhash) "
    "and group key = the fingerprint. The corpus loads as batch 1, "
    "then every 7th document is re-submitted with revised text; a "
    "revision MOVES the doc from its old fingerprint bucket to the "
    "new one (key migration), so the materialized index always "
    "reflects latest text. The near-dup twin of q_dedup_incremental: "
    "at 100 TB ingest keeps the fingerprint buckets (the candidate "
    "generator for hamming-distance near-dup) current without ever "
    "re-fingerprinting the corpus. Deterministic fingerprints make "
    "this engine-built index EXACTLY oracle-checkable - rare for a "
    "near-dup structure.",
)
def q_simhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    store = tempfile.mkdtemp(prefix="upmr_simhash_inc_")
    view = MapReduceView(
        spark,
        store,
        id_col="doc_id",
        map_fn=lambda df: simhash_fingerprints(df),
        group_cols=["simhash"],
        agg_exprs=[
            F.min(F.col("doc_id").cast("long")).alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        ],
        n_key_spans=8,
        n_doc_spans=8,
    )
    view.execute(d.select("doc_id", "text"))
    revised = d.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.concat(F.col("text"), F.lit(" (rev2)")).alias("text")
    )
    view.execute(revised)
    return view.final_df().select("simhash", "keep_doc_id", "n_docs")



@register(
    "q_store_vacuum",
    oracle=(
        "SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS cnt, "
        "CAST(sum(floor(CAST(c_acctbal AS DECIMAL(18,6)) * 100)) "
        "AS BIGINT) AS bal_total "
        "FROM customer GROUP BY c_mktsegment"
    ),
    doc="VACUUM lifecycle (retention + orphan reclamation): after the "
    "merge scenario leaves (a) pre-merge files superseded by the "
    "rewrite, (b) a deliberately CRASHED write's orphan files "
    "(write_data with no commit — invisible by the manifest "
    "contract), and (c) a restore back to v1, vacuum(keep_versions=1) "
    "must delete the orphans and every unreferenced data file, prune "
    "the archived manifests past retention, and leave the CURRENT "
    "snapshot byte-identical — asserted in-query: files removed > 0, "
    "the current span->file lists unchanged across the vacuum, "
    "time travel to a pruned version now raises (the retention "
    "contract made loud), and the post-vacuum read equals the "
    "pre-merge aggregate the oracle computes. This is the GC half of "
    "the reference's durability story (Executer.cs:165-203 persists "
    "forever; a real deployment must reclaim) — the exact trade "
    "Delta's VACUUM/retention makes.",
)
@_store_scoped()
def q_store_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, tgt, src = _merge_scenario(spark, sf_dir, "upmr_vacuum_")
    v1 = t.version
    t.merge(src, on=["k"], delete_where="dead")
    # a crashed write: files land, no commit references them
    t.write_data(tgt.limit(50))
    t.restore(v1)
    before_spans = t.spans()
    removed = t.vacuum(keep_versions=1)
    if removed <= 0:
        raise RuntimeError(
            "vacuum reclaimed nothing despite superseded merge files "
            "and a crashed write's orphans — the GC path is dead"
        )
    if t.spans() != before_spans:
        raise RuntimeError(
            "vacuum changed the CURRENT snapshot's membership — it "
            "may only ever delete unreferenced files"
        )
    try:
        t.read(spark, version=v1 + 1)  # the merge snapshot, now pruned
    except ValueError:
        pass
    else:
        raise RuntimeError(
            "time travel to a vacuumed version still resolved — "
            "retention pruning did not happen"
        )
    return (
        t.read(spark)
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("bal_cents").cast("bigint").alias("bal_total"),
        )
    )


# ---------------------------------------------------------------------------
# incrementally maintained covariance statistics — numeric-index upsert.

_COV_INC_DIMS = 16  # the Matryoshka serving-tier prefix (q_embed_mrl)
_COV_INC_MOD = 5  # every 5th vector is re-embedded in batch 2
_COV_INC_QMAX = 127


def cov_pair_rows(scale: float):
    """Map factory for the covariance view: quantize the 16-dim prefix
    on the (revision-invariant) global scale and emit one row per
    dimension pair with columns PRE-NAMED for the closed-form reduce
    (sum_prod/sum_i/sum_j plus literal-1 n), so the view's aggregates
    are exactly ``sum(c) AS c`` — the syntactic re-reducibility the
    two-level tree requires. Shared with the retraction round-trip
    test so the test always drives the operator's real Map."""

    def pair_rows(df: DataFrame) -> DataFrame:
        q = F.transform(
            F.slice("embedding", 1, _COV_INC_DIMS),
            lambda x: F.floor(x.cast("double") / F.lit(scale) + 0.5).cast(
                "long"
            ),
        )
        w = df.select("vec_id", q.alias("q"))
        pairs = F.filter(
            F.flatten(
                F.transform(
                    F.col("q"),
                    lambda qi, i: F.transform(
                        F.col("q"),
                        lambda qj, j: F.struct(
                            i.alias("dim_i"),
                            j.alias("dim_j"),
                            (qi * qj).alias("sum_prod"),
                            qi.alias("sum_i"),
                            qj.alias("sum_j"),
                        ),
                    ),
                )
            ),
            lambda p: p["dim_i"] <= p["dim_j"],
        )
        return (
            w.select("vec_id", F.explode(pairs).alias("p"))
            .select("vec_id", "p.*", F.lit(1).cast("long").alias("n"))
        )

    return pair_rows


def _cov_inc_oracle() -> str:
    """Final post-upsert state directly in SQL: the corpus with every
    5th vector's component 0 sign-flipped (|x| unchanged, so the
    global scale is revision-invariant), quantized on the ORIGINAL
    corpus scale, pair stats over the 16-dim prefix."""
    return (
        "WITH mx AS (SELECT max(greatest("
        "CAST(list_aggregate(embedding, 'max') AS DOUBLE), "
        "-CAST(list_aggregate(embedding, 'min') AS DOUBLE))) AS gmax "
        "FROM embeddings), "
        "base AS (SELECT vec_id, CASE WHEN vec_id % "
        f"{_COV_INC_MOD} = 0 THEN "
        f"list_concat([-embedding[1]], embedding[2:{_COV_INC_DIMS}]) "
        f"ELSE embedding[1:{_COV_INC_DIMS}] END AS emb FROM embeddings), "
        "q AS (SELECT vec_id, list_transform(emb, x -> "
        f"CAST(floor(CAST(x AS DOUBLE) / (gmax / {_COV_INC_QMAX}) + 0.5) "
        "AS BIGINT)) AS q FROM base, mx), "
        "p AS (SELECT ii.i AS dim_i, jj.j AS dim_j, q FROM q "
        f"CROSS JOIN (SELECT unnest(range(0, {_COV_INC_DIMS})) AS i) ii "
        f"CROSS JOIN (SELECT unnest(range(0, {_COV_INC_DIMS})) AS j) jj "
        "WHERE ii.i <= jj.j) "
        "SELECT CAST(dim_i AS INTEGER) AS dim_i, "
        "CAST(dim_j AS INTEGER) AS dim_j, "
        "CAST(sum(q[dim_i + 1] * q[dim_j + 1]) AS BIGINT) AS sum_prod, "
        "CAST(sum(q[dim_i + 1]) AS BIGINT) AS sum_i, "
        "CAST(sum(q[dim_j + 1]) AS BIGINT) AS sum_j, "
        "CAST(count(*) AS BIGINT) AS n "
        "FROM p GROUP BY dim_i, dim_j"
    )


@register(
    "q_covariance_incremental",
    oracle=_cov_inc_oracle(),
    doc="Incrementally MAINTAINED covariance statistics — the Tier-A "
    "updatable view applied to a NUMERIC index (the dedup/simhash "
    "incremental twins keyed by content; this one is keyed by "
    "dimension pair): Map = quantize the 16-dim Matryoshka serving "
    "prefix (q_embed_mrl's truncation tier) on the global int8 scale "
    "and emit one (dim_i, dim_j, prod, qi, qj) row per pair; Reduce "
    "= the re-reduction-closed integer sums of q_embed_covariance. "
    "The corpus loads as batch 1, then every 5th vector is "
    "RE-EMBEDDED (component-0 sign flip — |x|-preserving, so the "
    "broadcast scale is revision-invariant) and re-submitted: "
    "latest-wins replace retracts the old vector's contribution from "
    "all 136 pair groups and adds the new one, exactly the "
    "reference's delete-and-reschedule contract (Executer.cs:240-261) "
    "driving a drift monitor that must NEVER double-count a "
    "re-embedded vector. Covariance sums are the textbook case for "
    "the re-reducible Reduce contract (MapReduceTask.cs:12-13): "
    "partial scatter matrices merge by addition, and the aggregates "
    "are written in the closed sum(c)-AS-c form so the view AUTO-"
    "ENABLES its two-level materialized reduce tree — essential "
    "here, because every vector feeds all 136 pair keys (every key "
    "span is always dirty) and single-level maintenance would re-"
    "reduce the whole mapped corpus per batch; with L1 partials the "
    "batch re-reduces only its own dirty (key-span, doc-bucket) "
    "pairs plus the spans' partials. At 100 TB a re-embedding "
    "pipeline updates drift statistics per batch without rescanning "
    "the corpus.",
)
def q_covariance_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).embeddings
    from ..functions.vectors import global_embed_gmax

    gmax = global_embed_gmax(e)
    scale = gmax / _COV_INC_QMAX
    store = tempfile.mkdtemp(prefix="upmr_cov_inc_")
    view = MapReduceView(
        spark,
        store,
        id_col="vec_id",
        map_fn=cov_pair_rows(scale),
        # closed-form sums (sum(c) AS c over map-emitted columns, with
        # n emitted as literal 1s) — this is what lets the view AUTO-
        # ENABLE the two-level materialized reduce tree, so a revision
        # batch re-reduces only its own dirty (key-span, doc-bucket)
        # partials even though every vector touches all 136 pair keys
        # (asserted two_level=True in tests). count(*) here would
        # silently fall back to single-level (r10 review finding).
        group_cols=["dim_i", "dim_j"],
        agg_exprs=[
            F.sum("sum_prod").alias("sum_prod"),
            F.sum("sum_i").alias("sum_i"),
            F.sum("sum_j").alias("sum_j"),
            F.sum("n").alias("n"),
        ],
        n_key_spans=4,
        n_doc_spans=4,
    )
    view.execute(e.select("vec_id", "embedding"))
    revised = e.filter(F.col("vec_id") % _COV_INC_MOD == 0).select(
        "vec_id",
        F.transform(
            "embedding", lambda x, i: F.when(i == 0, -x).otherwise(x)
        ).alias("embedding"),
    )
    view.execute(revised)
    return view.final_df().select(
        F.col("dim_i").cast("int").alias("dim_i"),
        F.col("dim_j").cast("int").alias("dim_j"),
        "sum_prod",
        "sum_i",
        "sum_j",
        "n",
    )


# ---------------------------------------------------------------------------
# snapshot diff — post-hoc version-to-version change extraction.


@register(
    "q_store_diff",
    oracle=(
        "WITH tgt AS (SELECT c_custkey AS k, "
        "CAST(floor(CAST(c_acctbal AS DECIMAL(18,6)) * 100) AS BIGINT) "
        "AS bal, c_mktsegment AS seg FROM customer), "
        "scope AS (SELECT * FROM tgt WHERE k % 3 = 0 AND k % 8 < 3) "
        "SELECT 'added' AS change_type, t.k + 10000000 AS k, "
        "CAST(NULL AS BIGINT) AS bal_before, t.bal AS bal_after, "
        "CAST(NULL AS VARCHAR) AS seg_before, "
        "CAST('NEW' AS VARCHAR) AS seg_after "
        "FROM tgt t WHERE t.k % 7 = 0 AND t.k % 8 < 3 "
        "UNION ALL "
        "SELECT 'removed', k, bal, CAST(NULL AS BIGINT), seg, "
        "CAST(NULL AS VARCHAR) FROM scope WHERE bal < 0 "
        "UNION ALL "
        "SELECT 'changed', k, bal, bal + 1000, seg, 'UPDATED' "
        "FROM scope WHERE bal >= 0"
    ),
    doc="SNAPSHOT DIFF — post-hoc change extraction between two store "
    "VERSIONS (Delta's Change Data Feed read-side contract, computed "
    "WITHOUT capture: q_store_cdc needs the writer to have recorded "
    "changes; this works on any pair of archived snapshots via time "
    "travel). The merge scenario commits v1, applies the shared "
    "upsert+delete+insert merge (v2), and the diff classifies every "
    "key as added / removed / changed with before+after values from "
    "a full outer join of the two snapshot reads. The scale lever is "
    "MANIFEST-LEVEL PRUNING: spans whose file lists are IDENTICAL "
    "between the two manifests cannot contain differences, so the "
    "diff reads ONLY spans whose membership changed — asserted "
    "in-query (the merge touches spans 0-2, so exactly 3 of 8 spans "
    "are read; reading all 8 raises). At 100 TB diffing two "
    "snapshots of a mostly-stable table costs O(churned spans), not "
    "O(table) — the copy-on-write layout IS the change index. "
    "Citations: the reference keeps only the latest state "
    "(Executer.cs:165-203); versioned diff is the capability its "
    "persistence layer lacks that Delta/Iceberg deployments rely on.",
)
@_store_scoped()
def q_store_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, _tgt, src = _merge_scenario(spark, sf_dir, "upmr_diff_")
    v1 = t.version
    t.merge(src, on=["k"], delete_where="dead")
    v2 = t.version
    s1, s2 = t.spans(version=v1), t.spans(version=v2)
    changed_spans = sorted(
        s
        for s in set(s1) | set(s2)
        if s1.get(s) != s2.get(s)
    )
    # the merge scenario touches EXACTLY spans 0-2 (q_store_merge pins
    # spans_touched == 3); accepting any 1..7 here would let a file-
    # churn regression silently degrade the O(churned spans) claim
    if changed_spans != [0, 1, 2]:
        raise RuntimeError(
            f"manifest-level diff pruning is not engaging as claimed: "
            f"changed spans {changed_spans}, expected exactly [0, 1, 2] "
            f"of {len(set(s1) | set(s2))} — either untouched spans "
            "churned or the change set is wrong"
        )
    before = t.read(spark, spans=changed_spans, version=v1).select(
        F.col("k").alias("k"),
        F.col("bal_cents").alias("bal_before"),
        F.col("seg").alias("seg_before"),
    )
    after = t.read(spark, spans=changed_spans, version=v2).select(
        F.col("k").alias("k"),
        F.col("bal_cents").alias("bal_after"),
        F.col("seg").alias("seg_after"),
    )
    j = before.join(after, "k", "full")
    return j.select(
        F.when(F.col("bal_before").isNull(), F.lit("added"))
        .when(F.col("bal_after").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
        "k",
        "bal_before",
        "bal_after",
        "seg_before",
        "seg_after",
    ).filter(
        F.col("bal_before").isNull()
        | F.col("bal_after").isNull()
        | (F.col("bal_before") != F.col("bal_after"))
        | (F.col("seg_before") != F.col("seg_after"))
    )


# ---------------------------------------------------------------------------
# incremental JOIN-VIEW maintenance — fact ⋈ dim aggregate kept fresh
# under upserts to EITHER side (plans/join_view.py). The reference's
# single-collection update contract (Executer.cs:240-261) in delta-join
# form: dim-attribute changes retro-propagate, fact join keys migrate,
# deletes retract — each at O(dirty join spans), never a recompute.

_JV_MIGRATE_MOD = 150  # migrated custkeys land in 0..149 (valid at every sf)


def _jv_fact_rows(orders: DataFrame) -> DataFrame:
    """Project orders to the join view's fact payload: integer cents
    (the engine's exact cross-engine money form, floor(decimal*100))."""
    return orders.select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_custkey").alias("ckey"),
        F.floor(F.col("o_totalprice").cast("decimal(18,6)") * 100)
        .cast("bigint")
        .alias("cents"),
    )


def _jv_build_scenario(spark: SparkSession, sf_dir: str):
    """Build the five-delta join-view scenario in a temp store and
    return (view, temp_root) — shared by q_join_view_incremental
    (final state) and q_join_view_time_travel (archived snapshot), so
    the two can never drift apart. Caller removes temp_root."""
    from ..plans.join_view import JoinView

    cat = Catalog(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="upmr_joinview_")
    jv = JoinView(
        spark,
        os.path.join(root, "view"),
        fact_id="okey",
        join_col="ckey",
        dim_id="ckey",
        group_cols=["segment"],
        agg_exprs=[
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        ],
        rereduce_exprs=[
            F.sum("n_orders").cast("bigint").alias("n_orders"),
            F.sum("sum_cents").cast("bigint").alias("sum_cents"),
        ],
        n_spans=8,
    )
    dims = cat.customer.select(
        F.col("c_custkey").alias("ckey"),
        F.col("c_mktsegment").alias("segment"),
    )
    facts = _jv_fact_rows(cat.orders)
    jv.upsert_dims(dims)                                     # partials v1
    jv.upsert_facts(facts.filter(F.col("okey") % 2 == 0))    # v2
    jv.upsert_facts(facts.filter(F.col("okey") % 2 == 1))    # v3
    # dim update: retro-propagates through already-joined facts
    jv.upsert_dims(                                          # v4
        dims.filter(F.col("ckey") % 10 == 3).withColumn(
            "segment", F.lit("MIGRATED")
        )
    )
    # fact upsert: price doubling + join-key migration
    touched = facts.filter(
        (F.col("okey") % 7 == 0) | (F.col("okey") % 11 == 0)
    )
    jv.upsert_facts(                                         # v5
        touched.select(
            "okey",
            F.when(
                F.col("okey") % 11 == 0,
                F.col("okey") % _JV_MIGRATE_MOD,
            )
            .otherwise(F.col("ckey"))
            .cast("bigint")
            .alias("ckey"),
            F.when(F.col("okey") % 7 == 0, F.col("cents") * 2)
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
    )
    jv.delete_facts(                                         # v6
        facts.filter(F.col("okey") % 13 == 0).select("okey")
    )
    return jv, root


def _jv_collect(spark, jv, version=None):
    rows = [
        (r["segment"], r["n_orders"], r["sum_cents"])
        for r in jv.final_df(version=version).collect()  # one row/segment
    ]
    return spark.createDataFrame(
        rows, "segment string, n_orders bigint, sum_cents bigint"
    )


# Shared by the batch view and its streaming twin
# (q_stream_join_view, operators/stream_attested.py): both maintain
# the same five-delta scenario, so one oracle string attests both —
# any drift between the twins breaks one of the two hashes.
_JV_ORACLE = (
    "WITH f AS (SELECT o_orderkey AS okey, "
    f"CASE WHEN o_orderkey % 11 = 0 THEN o_orderkey % {_JV_MIGRATE_MOD} "
    "ELSE o_custkey END AS ckey, "
    "CAST(floor(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT) "
    "* CASE WHEN o_orderkey % 7 = 0 THEN 2 ELSE 1 END AS cents "
    "FROM orders WHERE o_orderkey % 13 <> 0), "
    "d AS (SELECT c_custkey AS ckey, "
    "CASE WHEN c_custkey % 10 = 3 THEN 'MIGRATED' ELSE c_mktsegment END "
    "AS segment FROM customer) "
    "SELECT segment, CAST(count(*) AS BIGINT) AS n_orders, "
    "CAST(sum(cents) AS BIGINT) AS sum_cents "
    "FROM f JOIN d USING (ckey) GROUP BY segment"
)


@register(
    "q_join_view_incremental",
    oracle=_JV_ORACLE,
    doc="INCREMENTAL JOIN-VIEW maintenance (plans/join_view.py): "
    "revenue per customer segment = orders ⋈ customer, maintained "
    "through five delta batches — initial load in two fact halves, a "
    "dim UPDATE that re-segments every tenth customer (and must "
    "retro-propagate through their already-joined orders), a fact "
    "upsert that doubles every 7th order's price and MIGRATES every "
    "11th order to a different customer (join-key migration: the old "
    "span retracts, the new span gains), and a delete of every 13th "
    "order. Both side tables are span-partitioned by the SAME hash of "
    "the join key, so each batch's maintenance join reads only the "
    "dirty spans on both sides — its exchange carries dirty-span "
    "rows, never the table; a fact index locates migrated rows' old spans the way the "
    "view's doc index does (view.py). Finals re-reduce per-span "
    "partials — the engine's two-level tree over a JOIN. The oracle "
    "is the closed-form final state; the interleaving/migration/"
    "revival properties are pinned by tests/test_r12_joinview.py.",
)
def q_join_view_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    jv, root = _jv_build_scenario(spark, sf_dir)
    try:
        return _jv_collect(spark, jv)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "q_join_view_time_travel",
    # the view AS OF partials v4: the dim migration has landed, the
    # fact-side deltas (price doubling, key migration, deletes) have
    # NOT — orders are pristine, customers re-segmented
    oracle=(
        "WITH f AS (SELECT o_orderkey AS okey, o_custkey AS ckey, "
        "CAST(floor(CAST(o_totalprice AS DECIMAL(18,6)) * 100) AS BIGINT) "
        "AS cents FROM orders), "
        "d AS (SELECT c_custkey AS ckey, "
        "CASE WHEN c_custkey % 10 = 3 THEN 'MIGRATED' ELSE c_mktsegment END "
        "AS segment FROM customer) "
        "SELECT segment, CAST(count(*) AS BIGINT) AS n_orders, "
        "CAST(sum(cents) AS BIGINT) AS sum_cents "
        "FROM f JOIN d USING (ckey) GROUP BY segment"
    ),
    doc="TIME TRAVEL on the delta-join view: after all six delta "
    "batches of the q_join_view_incremental scenario, read the view "
    "AS OF partials version 4 — the snapshot where the dim migration "
    "has retro-propagated but the fact-side deltas (price doubling, "
    "key migration, deletes) have not happened yet. Every JoinView "
    "write commits the partials table exactly once, so version N IS "
    "the view after its N-th delta batch; the archived manifest "
    "resolves to that snapshot's partial files (O(groups × spans) "
    "read, zero data movement — the store's time-travel contract, "
    "q_time_travel, extended to a derived JOINED artifact whose "
    "history interleaves fact and dim causes). The oracle is the "
    "closed-form mid-scenario state: pristine orders ⋈ re-segmented "
    "customers.",
)
def q_join_view_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    jv, root = _jv_build_scenario(spark, sf_dir)
    try:
        return _jv_collect(spark, jv, version=4)
    finally:
        shutil.rmtree(root, ignore_errors=True)
