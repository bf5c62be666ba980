"""Tier A behavioral parity: MapReduceView vs the reference's semantics.

Replays the reference's self-checking smoke scenario verbatim
(MapReduce/Program.cs:26-44: 397 CA + 256 TX people, then people-30
moves CA->TX; totals conserved) plus the edge cases the reference's
code implies but never runs, plus a randomized incremental==full
property test (the defining invariant of the engine).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from updatable_persistent_map_reduce_spark.plans import MapReduceView
from updatable_persistent_map_reduce_spark.plans.view import (
    maintenance_session,
    on_session,
)


def people_view(spark, tmp_path, **kw):
    return MapReduceView(
        spark,
        str(tmp_path / "people_by_state"),
        id_col="id",
        group_cols=["state"],
        agg_exprs=[F.count(F.lit(1)).alias("cnt")],
        n_key_spans=8,
        n_doc_spans=8,
        **kw,
    )


def people_df(spark, rows):
    return spark.createDataFrame(rows, "id string, state string")


@pytest.fixture()
def scenario_view(spark, tmp_path):
    """Batch 1 of the reference scenario applied."""
    v = people_view(spark, tmp_path)
    batch1 = [(f"people-{i}", "CA") for i in range(1, 398)] + [
        (f"people-{i}", "TX") for i in range(398, 654)
    ]
    v.execute(people_df(spark, batch1))
    return v


def counts(view):
    return {r["state"]: r["cnt"] for r in view.final_df().collect()}


def test_reference_scenario(spark, scenario_view):
    v = scenario_view
    assert counts(v) == {"CA": 397, "TX": 256}

    # Batch 2: people-30 moves CA -> TX (Program.cs:35-39)
    v.execute(people_df(spark, [("people-30", "TX")]))
    after = counts(v)
    assert after == {"CA": 396, "TX": 257}
    assert sum(after.values()) == 653  # grand total conserved (Program.cs:43)


def test_point_lookup_and_unknown_key(spark, scenario_view):
    v = scenario_view
    [row] = v.query("CA").collect()
    assert row["cnt"] == 397
    assert v.query("NV").count() == 0  # unknown key => empty (Executer.cs:373)


def test_case_insensitive_upsert(spark, scenario_view):
    v = scenario_view
    # Reference matches doc ids case-insensitively (Executer.cs:245-247)
    v.execute(people_df(spark, [("PEOPLE-30", "TX")]))
    after = counts(v)
    assert after == {"CA": 396, "TX": 257}


def test_same_key_update_is_idempotent(spark, scenario_view):
    v = scenario_view
    v.execute(people_df(spark, [("people-10", "CA")]))
    assert counts(v) == {"CA": 397, "TX": 256}


def test_empty_batch(spark, scenario_view):
    v = scenario_view
    v.execute(people_df(spark, []))
    assert counts(v) == {"CA": 397, "TX": 256}


def test_group_disappears_when_last_doc_moves(spark, tmp_path):
    v = people_view(spark, tmp_path)
    v.execute(people_df(spark, [("a", "CA"), ("b", "TX")]))
    v.execute(people_df(spark, [("b", "CA")]))
    assert counts(v) == {"CA": 2}
    assert v.query("TX").count() == 0


def test_multi_emit_flatmap(spark, tmp_path):
    """Map may emit 0..N rows per doc (MapReduceTask.cs:8 contract)."""

    def explode_tags(df):
        return df.select(
            "id", F.explode(F.split(F.col("tags"), ",")).alias("tag")
        )

    v = MapReduceView(
        spark,
        str(tmp_path / "by_tag"),
        id_col="id",
        map_fn=explode_tags,
        group_cols=["tag"],
        agg_exprs=[F.count(F.lit(1)).alias("cnt")],
        n_key_spans=8,
        n_doc_spans=8,
    )
    df = spark.createDataFrame(
        [("d1", "red,blue"), ("d2", "red")], "id string, tags string"
    )
    v.execute(df)
    assert {r["tag"]: r["cnt"] for r in v.final_df().collect()} == {
        "red": 2,
        "blue": 1,
    }
    # update d1: now only green — red drops to 1, blue disappears
    v.execute(
        spark.createDataFrame([("d1", "green")], "id string, tags string")
    )
    assert {r["tag"]: r["cnt"] for r in v.final_df().collect()} == {
        "red": 1,
        "green": 1,
    }


def test_zero_emission_update_deletes(spark, tmp_path):
    """A doc whose new version maps to nothing is removed everywhere
    (the reference deletes old map output before mapping new,
    Executer.cs:91)."""

    def keep_positive(df):
        return df.filter(F.col("val") > 0).select(
            "id", F.col("grp"), F.col("val")
        )

    v = MapReduceView(
        spark,
        str(tmp_path / "pos"),
        id_col="id",
        map_fn=keep_positive,
        group_cols=["grp"],
        agg_exprs=[F.sum("val").alias("total")],
        n_key_spans=8,
        n_doc_spans=8,
    )
    mk = lambda rows: spark.createDataFrame(rows, "id string, grp string, val long")
    v.execute(mk([("x", "g1", 5), ("y", "g1", 3)]))
    assert v.query("g1").collect()[0]["total"] == 8
    v.execute(mk([("x", "g1", -1)]))  # x now filtered out entirely
    assert v.query("g1").collect()[0]["total"] == 3


def test_custom_reduce_fn(spark, tmp_path):
    """Non-algebraic user Reduce via applyInPandas (the reference's
    Reduce is arbitrary user code, MapReduceTask.cs:10)."""

    def median_reduce(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "kspan": [pdf["kspan"].iloc[0]],
                "grp": [pdf["grp"].iloc[0]],
                "median_val": [float(pdf["val"].median())],
            }
        )

    v = MapReduceView(
        spark,
        str(tmp_path / "median"),
        id_col="id",
        group_cols=["grp"],
        reduce_fn=median_reduce,
        reduce_schema="grp string, median_val double",
        n_key_spans=4,
        n_doc_spans=4,
    )
    mk = lambda rows: spark.createDataFrame(rows, "id string, grp string, val long")
    v.execute(mk([("a", "g", 1), ("b", "g", 9), ("c", "g", 5)]))
    assert v.query("g").collect()[0]["median_val"] == 5.0
    v.execute(mk([("b", "g", 3)]))
    assert v.query("g").collect()[0]["median_val"] == 3.0


def test_incremental_equals_full_property(spark, tmp_path):
    """Defining property: any sequence of upsert batches ==
    one-shot aggregation over the latest version of every doc."""
    rng = random.Random(42)
    states = ["CA", "TX", "NY", "WA"]
    latest: dict[str, str] = {}
    v = people_view(spark, tmp_path)
    for _ in range(5):
        batch = {}
        for _ in range(rng.randint(1, 40)):
            doc = f"p-{rng.randint(1, 60)}"
            batch[doc] = rng.choice(states)
        latest.update(batch)
        v.execute(people_df(spark, sorted(batch.items())))
        expected = {}
        for s in latest.values():
            expected[s] = expected.get(s, 0) + 1
        assert counts(v) == expected


def test_incremental_equals_full_hypothesis(spark):
    """Property-based twin of the above via hypothesis: random batch
    sequences with case-variant doc ids (the reference matches ids
    case-insensitively on upsert, Executer.cs:245-247), so replace
    semantics and key migration are exercised under id-case noise."""
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    submission = st.tuples(
        st.integers(1, 20),  # doc number
        st.booleans(),  # uppercase the id?
        st.sampled_from(["CA", "TX", "NY"]),
    )
    batches = st.lists(
        st.lists(submission, min_size=1, max_size=12),
        min_size=1,
        max_size=3,
    )

    @settings(
        max_examples=5,
        deadline=None,
        derandomize=True,
        suppress_health_check=list(HealthCheck),
    )
    @given(batches)
    def run(seq):
        store = tempfile.mkdtemp(prefix="upmr_hyp_")
        v = MapReduceView(
            spark,
            store,
            id_col="id",
            group_cols=["state"],
            agg_exprs=[F.count(F.lit(1)).alias("cnt")],
            n_key_spans=4,
            n_doc_spans=4,
        )
        latest: dict[str, str] = {}
        for batch in seq:
            # one submission per logical doc per batch (two case
            # variants of one id in a single batch would be an
            # ambiguous same-batch conflict; the reference's demo never
            # does that either)
            rows: dict[int, tuple[str, str]] = {}
            for num, upper, state in batch:
                doc = f"p-{num}".upper() if upper else f"p-{num}"
                rows[num] = (doc, state)
            for doc, state in rows.values():
                latest[doc.upper()] = state  # case-insensitive identity
            v.execute(people_df(spark, sorted(rows.values())))
        expected: dict[str, int] = {}
        for s in latest.values():
            expected[s] = expected.get(s, 0) + 1
        assert counts(v) == expected

    run()


def two_level_view(spark, path, **kw):
    """Two-level tree with the reference's re-reducible contract:
    map emits cnt=1 / val, aggs are sums (closed under re-application
    to their own aliased output, MapReduceTask.cs:10)."""
    return MapReduceView(
        spark,
        path,
        id_col="id",
        map_fn=lambda df: df.withColumn("cnt", F.lit(1)),
        group_cols=["state"],
        agg_exprs=[F.sum("cnt").alias("cnt")],
        n_key_spans=4,
        n_doc_spans=4,
        two_level=True,
        n_sub_buckets=8,
        **kw,
    )


def test_two_level_reference_scenario(spark, tmp_path):
    """The reference smoke scenario through the materialized reduce
    tree (reduce_l1 partials), including key migration and an
    insert-only follow-up batch."""
    import os

    v = two_level_view(spark, str(tmp_path / "tl"))
    batch1 = [(f"people-{i}", "CA") for i in range(1, 398)] + [
        (f"people-{i}", "TX") for i in range(398, 654)
    ]
    v.execute(people_df(spark, batch1))
    assert counts(v) == {"CA": 397, "TX": 256}
    assert os.path.isdir(str(tmp_path / "tl" / "reduce_l1"))

    v.execute(people_df(spark, [("people-30", "TX")]))
    after = counts(v)
    assert after == {"CA": 396, "TX": 257}
    assert sum(after.values()) == 653

    # insert-only batch (append path + bucket-pruned partial recompute)
    v.execute(people_df(spark, [("new-1", "NY"), ("new-2", "CA")]))
    assert counts(v) == {"CA": 397, "TX": 257, "NY": 1}

    # case-insensitive replace through the tree
    v.execute(people_df(spark, [("NEW-1", "CA")]))
    assert counts(v) == {"CA": 398, "TX": 257}


def test_two_level_matches_single_level(spark, tmp_path):
    """Same random batch sequence through both modes -> identical
    materialized results (the tree is an execution detail, not a
    semantic)."""
    rng = random.Random(7)
    states = ["CA", "TX", "NY", "WA"]
    v1 = two_level_view(spark, str(tmp_path / "two"))
    v2 = MapReduceView(
        spark,
        str(tmp_path / "one"),
        id_col="id",
        map_fn=lambda df: df.withColumn("cnt", F.lit(1)),
        group_cols=["state"],
        agg_exprs=[F.sum("cnt").alias("cnt")],
        n_key_spans=4,
        n_doc_spans=4,
    )
    for _ in range(4):
        batch = {}
        for _ in range(rng.randint(1, 30)):
            batch[f"p-{rng.randint(1, 40)}"] = rng.choice(states)
        df = people_df(spark, sorted(batch.items()))
        v1.execute(df)
        v2.execute(df)
    assert counts(v1) == counts(v2)


def test_insert_only_batch_appends(spark, tmp_path):
    """A batch of brand-new docs must take the O(batch) append path:
    data files written by earlier batches stay byte-identical in place
    (no copy-on-write span rewrite), yet aggregates include both
    batches. (Manifest metadata rewrites per commit by design; the
    invariant is about the immutable data files.)"""
    import os

    v = people_view(spark, tmp_path)
    v.execute(people_df(spark, [("a", "CA"), ("b", "TX")]))
    map_dir = str(tmp_path / "people_by_state" / "map_results")

    def snapshot():
        out = {}
        for root, _, files in os.walk(map_dir):
            for f in files:
                if not f.endswith(".parquet"):  # manifest/job metadata
                    continue
                p = os.path.join(root, f)
                out[p] = os.stat(p).st_mtime_ns
        return out

    before = snapshot()
    v.execute(people_df(spark, [("c", "CA"), ("d", "NY")]))
    after = snapshot()
    missing = {p: t for p, t in before.items() if after.get(p) != t}
    assert not missing, f"insert-only batch rewrote existing files: {missing}"
    assert len(after) > len(before)
    assert counts(v) == {"CA": 2, "TX": 1, "NY": 1}


def test_restart_durability(spark, tmp_path):
    """State survives across engine instances (the reference's whole
    point: filesystem persistence across process lifetimes)."""
    v1 = people_view(spark, tmp_path)
    v1.execute(people_df(spark, [("a", "CA"), ("b", "TX")]))
    v2 = people_view(spark, tmp_path)  # fresh instance, same store
    assert counts(v2) == {"CA": 1, "TX": 1}
    v2.execute(people_df(spark, [("a", "TX")]))
    assert counts(v2) == {"TX": 2}


def test_drop_key(spark, scenario_view):
    v = scenario_view
    v.drop_key("CA")
    assert v.query("CA").count() == 0
    assert counts(v) == {"TX": 256}


def test_compact_index_preserves_results(spark, tmp_path):
    """Stale append-only index entries accumulate across key
    migrations; compaction rewrites the index from map_results without
    changing any observable result, and later upserts still work."""
    v = people_view(spark, tmp_path)
    v.execute(people_df(spark, [("a", "CA"), ("b", "CA"), ("c", "TX")]))
    v.execute(people_df(spark, [("a", "TX")]))  # a: CA -> TX (stale entry)
    v.execute(people_df(spark, [("a", "WA")]))  # a: TX -> WA (more stale)
    before = counts(v)
    assert before == {"CA": 1, "TX": 1, "WA": 1}
    v.compact_index()
    assert counts(v) == before
    # post-compaction upserts still replace correctly
    v.execute(people_df(spark, [("a", "CA")]))
    assert counts(v) == {"CA": 2, "TX": 1}


def test_stats_snapshot(spark, tmp_path):
    v = two_level_view(spark, str(tmp_path / "stats"))
    v.execute(people_df(spark, [("a", "CA"), ("b", "TX")]))
    s = v.stats()
    assert s["batch_seq"] == 1
    for table in ("map_results", "doc_index", "reduce_l1", "final_results"):
        assert s[table]["spans"] >= 1
        assert s[table]["files"] >= 1
        assert s[table]["bytes"] > 0


def test_delete_docs(spark, tmp_path):
    """Explicit deletion: ids removed everywhere (case-insensitive),
    groups shrink/disappear, unknown ids are no-ops."""
    v = people_view(spark, tmp_path)
    v.execute(
        people_df(spark, [("a", "CA"), ("b", "CA"), ("c", "TX"), ("d", "NY")])
    )
    v.delete_docs(["A", "c"])  # case-insensitive, one per group
    assert counts(v) == {"CA": 1, "NY": 1}
    v.delete_docs(["nope"])  # unknown id: no-op
    assert counts(v) == {"CA": 1, "NY": 1}
    v.delete_docs(people_df(spark, [("d", "ignored")]).select("id"))
    assert counts(v) == {"CA": 1}
    # deleted ids can be re-inserted afterwards
    v.execute(people_df(spark, [("a", "TX")]))
    assert counts(v) == {"CA": 1, "TX": 1}


def test_delete_docs_two_level(spark, tmp_path):
    v = two_level_view(spark, str(tmp_path / "tl"))
    v.execute(people_df(spark, [("a", "CA"), ("b", "CA"), ("c", "TX")]))
    v.delete_docs(["b", "C"])
    assert counts(v) == {"CA": 1}
    v.execute(people_df(spark, [("e", "CA")]))
    assert counts(v) == {"CA": 2}


def test_compact_map_preserves_results(spark, tmp_path):
    """Insert-only batches append one file per touched pair; compaction
    folds a pair's files into one without changing any result, and
    later upserts still work."""
    # n_sub_buckets=1 puts every doc of a key-span in one pair, so the
    # four appends below pile files onto the same physical pair
    v = people_view(spark, tmp_path, n_sub_buckets=1)
    for i in range(4):  # same state => same pair accumulates appends
        v.execute(people_df(spark, [(f"p-{i}", "CA")]))
    before = counts(v)
    files_before = v.stats()["map_results"]["files"]
    assert v.compact_map(min_files=2) >= 1
    assert v.stats()["map_results"]["files"] < files_before
    assert counts(v) == before
    v.execute(people_df(spark, [("p-0", "TX")]))
    assert counts(v) == {"CA": 3, "TX": 1}


def test_query_local_serving_path(spark, scenario_view):
    """query_local serves a point lookup with no Spark job: same rows
    as query(), plain dicts, empty for unknown keys — and the
    driver-side crc32 span must agree with the Spark-side assignment
    for every key."""
    v = scenario_view
    assert v.query_local("CA") == [{"state": "CA", "cnt": 397}]
    assert v.query_local("NV") == []
    # span parity: Spark-assigned kspan == driver _span_of for all keys
    from pyspark.sql import functions as F

    assigned = {
        r["state"]: r["s"]
        for r in v._fin_t.read(spark)
        .select("state", F.col("kspan").alias("s"))
        .collect()
    }
    for key, kspan in assigned.items():
        assert v._span_of((key,)) == kspan


def test_reserved_column_clash_raises(spark, tmp_path):
    """A map output using an engine bookkeeping column name must fail
    fast instead of being silently overwritten."""
    v = MapReduceView(
        spark,
        str(tmp_path / "clash"),
        id_col="id",
        map_fn=lambda df: df.withColumn("bucket", F.col("state")),
        group_cols=["state"],
        agg_exprs=[F.count(F.lit(1)).alias("cnt")],
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="reserved engine column"):
        v.execute(people_df(spark, [("a", "CA")]))


def test_auto_two_level_detection(spark, tmp_path):
    """two_level=None auto-enables the materialized reduce tree iff
    every aggregate is provably re-reduction-closed; reopening under
    auto mode adopts the store's recorded layout."""
    closed = MapReduceView(
        spark,
        str(tmp_path / "auto_closed"),
        id_col="id",
        map_fn=lambda df: df.withColumn("cnt", F.lit(1)),
        group_cols=["state"],
        agg_exprs=[F.sum("cnt").alias("cnt")],
    )
    assert closed.two_level
    open_agg = MapReduceView(
        spark,
        str(tmp_path / "auto_open"),
        id_col="id",
        group_cols=["state"],
        agg_exprs=[F.count(F.lit(1)).alias("cnt")],  # NOT closed
    )
    assert not open_agg.two_level
    closed.execute(people_df(spark, [("a", "CA"), ("b", "CA"), ("c", "TX")]))
    assert {r["state"]: r["cnt"] for r in closed.final_df().collect()} == {
        "CA": 2,
        "TX": 1,
    }
    # reopen under auto: adopts the recorded two_level=True layout
    reopened = MapReduceView(
        spark,
        str(tmp_path / "auto_closed"),
        id_col="id",
        map_fn=lambda df: df.withColumn("cnt", F.lit(1)),
        group_cols=["state"],
        agg_exprs=[F.sum("cnt").alias("cnt")],
    )
    assert reopened.two_level
    # explicit mismatch still refuses
    with pytest.raises(ValueError, match="two_level"):
        MapReduceView(
            spark,
            str(tmp_path / "auto_closed"),
            id_col="id",
            map_fn=lambda df: df.withColumn("cnt", F.lit(1)),
            group_cols=["state"],
            agg_exprs=[F.sum("cnt").alias("cnt")],
            two_level=False,
        )


def test_concurrent_maintenance_never_changes_caller_conf(spark):
    """Threads asking for the same right-sized maintenance session at
    once share ONE cached child session that carries the maintenance
    conf, and the caller's session conf never changes meanwhile, so
    concurrent views cannot leave a maintenance value behind on it."""
    import threading

    key = "spark.sql.shuffle.partitions"
    default = spark.conf.get(key)
    got, errors = [], []

    def work():
        try:
            for _ in range(3):
                ms = maintenance_session(spark, 2)
                assert ms.conf.get(key) == "2"
                assert spark.conf.get(key) == default
                got.append(ms)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=work) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len({id(s) for s in got}) == 1  # one child per (session, n)
    assert got[0] is not spark
    assert spark.conf.get(key) == default


def test_time_travel_final_df(spark, scenario_view):
    """Snapshot time travel at the VIEW level: after an upsert, the
    pre-upsert finals remain readable at the archived manifest version
    (store.py:_VERSIONS), and an unknown version raises."""
    v = scenario_view
    v1 = v._fin_t.version
    before = {r["state"]: r["cnt"] for r in v.final_df().collect()}
    assert before == {"CA": 397, "TX": 256}

    v.execute(people_df(spark, [("people-30", "TX")]))
    after = {r["state"]: r["cnt"] for r in v.final_df().collect()}
    assert after == {"CA": 396, "TX": 257}

    # the archived snapshot still reads the pre-upsert state
    archived = {
        r["state"]: r["cnt"] for r in v.final_df(version=v1).collect()
    }
    assert archived == before

    with pytest.raises(ValueError, match="no archived manifest"):
        v.final_df(version=99_999).collect()


def test_caller_conf_unchanged_while_maintenance_runs(spark, tmp_path):
    """A maintenance phase runs on a child session (same cluster and
    cache, isolated SQL conf), so analytics on the caller's session
    keep the caller's conf while a view maintains: the child executes
    with its own partition count, a maintained batch leaves the
    caller's conf as it was, and serving frames stay on the caller's
    session (plans/view.py:maintenance_session)."""
    key = "spark.sql.shuffle.partitions"
    default = spark.conf.get(key)
    ms = maintenance_session(spark, 2)
    assert ms is not spark and ms.conf.get(key) == "2"
    assert ms.conf.get("spark.sql.adaptive.enabled") == "false"
    q = spark.range(10).groupBy((F.col("id") % 3).alias("g")).count()
    # the same plan executes with the child's conf once bound to it
    assert on_session(q, ms).rdd.getNumPartitions() == 2
    assert spark.conf.get(key) == default
    v = people_view(spark, tmp_path)
    v.execute(people_df(spark, [("a", "CA"), ("b", "TX")]))
    assert counts(v) == {"CA": 1, "TX": 1}
    assert spark.conf.get(key) == default
    assert v.final_df().sparkSession is spark
    # sizes at or above the default keep the caller's own session
    assert maintenance_session(spark, int(default)) is spark
    assert maintenance_session(spark, None) is spark


def test_two_views_maintained_concurrently(spark, tmp_path):
    """Two views on ONE SparkSession, maintained from concurrent
    threads: their right-sized phases run on child sessions, both
    stores end correct, and the session conf is still the default
    afterwards."""
    import threading

    default = spark.conf.get("spark.sql.shuffle.partitions")
    views = [
        people_view(spark, tmp_path / "a"),
        people_view(spark, tmp_path / "b"),
    ]
    errors = []

    def build(v, offset):
        try:
            v.execute(
                people_df(
                    spark,
                    [(f"p{offset}-{i}", "CA") for i in range(40)]
                    + [(f"q{offset}-{i}", "TX") for i in range(10)],
                )
            )
            # incremental round: migrate 5 CA docs to TX
            v.execute(
                people_df(
                    spark, [(f"p{offset}-{i}", "TX") for i in range(5)]
                )
            )
        except BaseException as e:  # noqa: BLE001 — re-raised by assert
            errors.append(e)

    threads = [
        threading.Thread(target=build, args=(v, i), daemon=True)
        for i, v in enumerate(views)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    for v in views:
        assert counts(v) == {"CA": 35, "TX": 15}
    assert spark.conf.get("spark.sql.shuffle.partitions") == default


def test_auto_compaction_bounds_sliver_files(spark, tmp_path):
    """Append-heavy ingest must not accumulate sliver files without
    bound: with auto_compact_files_per_span set, the engine folds the
    map table once the average files/span crosses the threshold —
    results unchanged, archived snapshots untouched (no vacuum)."""
    v = MapReduceView(
        spark,
        str(tmp_path / "auto_compact"),
        id_col="id",
        group_cols=["state"],
        agg_exprs=[F.count(F.lit(1)).alias("cnt")],
        n_key_spans=2,
        n_doc_spans=2,
        n_sub_buckets=2,
        auto_compact_files_per_span=3,
    )
    n_batches, per = 10, 20
    for b in range(n_batches):
        v.execute(
            people_df(
                spark,
                [(f"d{b}-{i}", ["CA", "TX"][i % 2]) for i in range(per)],
            )
        )
    mapping = v._map_t.spans()
    files_per_span = sum(len(f) for f in mapping.values()) / len(mapping)
    assert files_per_span < 3 + 1, mapping  # folded at least once
    assert counts(v) == {"CA": n_batches * per // 2, "TX": n_batches * per // 2}
    # un-vacuumed: at least one archived manifest remains for time travel
    import os as _os

    assert _os.listdir(_os.path.join(str(tmp_path / "auto_compact"),
                                     "map_results", "_versions"))


def test_reader_snapshot_survives_concurrent_commit(spark, scenario_view):
    """Snapshot isolation for readers: a DataFrame planned BEFORE a
    batch commits resolves the manifest to an explicit file list, and
    data files are never deleted until vacuum — so collecting it AFTER
    the commit still returns the old snapshot, not a torn or updated
    read."""
    v = scenario_view
    old_df = v.final_df()  # plan resolved against the current manifest
    v.execute(people_df(spark, [("people-30", "TX")]))
    old = {r["state"]: r["cnt"] for r in old_df.collect()}
    assert old == {"CA": 397, "TX": 256}  # pre-commit snapshot
    new = {r["state"]: r["cnt"] for r in v.final_df().collect()}
    assert new == {"CA": 396, "TX": 257}


def test_reopen_with_wrong_task_definition_fails(spark, tmp_path):
    """A store reopened under a different task identity (group_cols or
    id_col) must fail loudly — persisted rows are keyed by those
    columns, so proceeding would silently mix incompatible data."""
    v = people_view(spark, tmp_path)
    v.execute(people_df(spark, [("a", "CA")]))

    with pytest.raises(ValueError, match="group_cols"):
        MapReduceView(
            spark,
            str(tmp_path / "people_by_state"),
            id_col="id",
            group_cols=["city"],  # wrong key
            agg_exprs=[F.count(F.lit(1)).alias("cnt")],
        )
    with pytest.raises(ValueError, match="id_col"):
        MapReduceView(
            spark,
            str(tmp_path / "people_by_state"),
            id_col="other_id",  # wrong identity
            group_cols=["state"],
            agg_exprs=[F.count(F.lit(1)).alias("cnt")],
        )
    # the correct task definition still reopens fine
    again = people_view(spark, tmp_path)
    assert counts(again) == {"CA": 1}


def test_two_phase_pruned_lookup_path(spark, tmp_path):
    """Force the at-scale TWO-PHASE dirty-set path (index too big to
    fold into the probe: separate pruned doc_index read keyed by the
    batch ids' doc-spans) and check it against the reference scenario.
    The folded small-index path is what every other test exercises, so
    this is the only coverage the 100 TB branch gets."""
    v = people_view(spark, tmp_path)
    v._SMALL_INDEX_BYTES = 0  # index is never "small": always two-phase
    batch1 = [(f"people-{i}", "CA") for i in range(1, 398)] + [
        (f"people-{i}", "TX") for i in range(398, 654)
    ]
    v.execute(people_df(spark, batch1))
    assert counts(v) == {"CA": 397, "TX": 256}
    v.execute(people_df(spark, [("people-30", "TX")]))
    assert counts(v) == {"CA": 396, "TX": 257}
    # update that only replaces (no key migration) + a fresh insert
    v.execute(people_df(spark, [("people-30", "TX"), ("people-999", "NV")]))
    assert counts(v) == {"CA": 396, "TX": 257, "NV": 1}


# ----- alter_reduce: reduce evolution without re-map ----------------------


def _value_view(spark, tmp_path, name="alter", **kw):
    return MapReduceView(
        spark,
        str(tmp_path / name),
        id_col="id",
        group_cols=["grp"],
        n_key_spans=4,
        n_doc_spans=4,
        **kw,
    )


def _vrows(spark, rows):
    return spark.createDataFrame(rows, "id string, grp string, v long")


def test_alter_reduce_adds_metric_and_keeps_upserting(spark, tmp_path):
    """Adding an aggregate re-reduces persisted map rows (no re-map),
    and subsequent incremental batches maintain the new metric."""
    v = _value_view(
        spark, tmp_path, agg_exprs=[F.sum(F.lit(1)).alias("cnt")]
    )
    v.execute(_vrows(spark, [("a", "g", 10), ("b", "g", 4), ("c", "h", 7)]))
    assert {r["grp"]: r["cnt"] for r in v.final_df().collect()} == {
        "g": 2,
        "h": 1,
    }
    v.alter_reduce(
        agg_exprs=[F.sum(F.lit(1)).alias("cnt"), F.sum("v").alias("v_sum")]
    )
    got = {r["grp"]: (r["cnt"], r["v_sum"]) for r in v.final_df().collect()}
    assert got == {"g": (2, 14), "h": (1, 7)}  # v was in map rows all along
    # incremental upsert AFTER the alter maintains both metrics
    v.execute(_vrows(spark, [("b", "g", 100), ("d", "h", 1)]))
    got = {r["grp"]: (r["cnt"], r["v_sum"]) for r in v.final_df().collect()}
    assert got == {"g": (2, 110), "h": (2, 8)}


def test_alter_reduce_survives_restart(spark, tmp_path):
    v = _value_view(
        spark, tmp_path, agg_exprs=[F.sum(F.lit(1)).alias("cnt")]
    )
    v.execute(_vrows(spark, [("a", "g", 3), ("b", "g", 5)]))
    new_aggs = [F.sum("v").alias("v_sum")]
    v.alter_reduce(agg_exprs=new_aggs)
    v2 = _value_view(spark, tmp_path, agg_exprs=new_aggs)
    assert v2.final_df().collect()[0]["v_sum"] == 8


def test_alter_reduce_crash_before_recompute_converges(spark, tmp_path):
    """The crash window alter_reduce journals against: the journal
    (spans + new mode) landed, nothing else ran. Reopening with the
    new reduce must recover the new finals from map rows."""
    v = _value_view(
        spark, tmp_path, agg_exprs=[F.sum(F.lit(1)).alias("cnt")]
    )
    v.execute(_vrows(spark, [("a", "g", 3), ("b", "h", 5)]))
    # reproduce alter_reduce's post-journal state by hand
    kspans = {p // v.n_sub_buckets for p in v._map_t.spans()}
    v._write_journal(sorted(kspans), extra={"alter_two_level": False})
    # "crash": no recompute. Fresh instance with the new reduce:
    new_aggs = [F.sum("v").alias("v_sum")]
    v2 = _value_view(spark, tmp_path, agg_exprs=new_aggs)
    got = {r["grp"]: r["v_sum"] for r in v2.final_df().collect()}
    assert got == {"g": 3, "h": 5}


def test_alter_reduce_crash_from_two_level_to_custom_fn(spark, tmp_path):
    """Crashed two-level -> custom-reduce alter: the stored layout
    still says two_level=True, but the journaled mode must win on the
    reopening recovery (otherwise recovery would aggregate with
    agg_exprs=None and crash, or re-reduce a non-closed reduce)."""

    def median_reduce(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "kspan": [pdf["kspan"].iloc[0]],
                "grp": [pdf["grp"].iloc[0]],
                "median_v": [float(pdf["v"].median())],
            }
        )

    v = _value_view(spark, tmp_path, agg_exprs=[F.sum("v").alias("v")])
    assert v.two_level
    v.execute(_vrows(spark, [("a", "g", 1), ("b", "g", 9), ("c", "g", 4)]))
    kspans = {p // v.n_sub_buckets for p in v._map_t.spans()}
    v._write_journal(sorted(kspans), extra={"alter_two_level": False})
    # "crash" before anything else; reopen with the NEW reduce
    v2 = _value_view(
        spark,
        tmp_path,
        reduce_fn=median_reduce,
        reduce_schema="grp string, median_v double",
    )
    assert not v2.two_level
    assert v2._l1_t.spans() == {}  # stale partials dropped in recovery
    assert v2.final_df().collect()[0]["median_v"] == 4.0


def test_alter_reduce_never_escalates_pinned_single_level(spark, tmp_path):
    """A store explicitly pinned two_level=False stays single-level
    through an alter whose aggregates WOULD permit the reduce tree —
    and the owner's next same-args reopen still works."""
    v = _value_view(
        spark,
        tmp_path,
        agg_exprs=[F.sum("v").alias("v")],
        two_level=False,
    )
    v.execute(_vrows(spark, [("a", "g", 3), ("b", "g", 5)]))
    v.alter_reduce(
        agg_exprs=[F.sum("v").alias("v"), F.max("v").alias("v_max")]
    )
    assert not v.two_level
    v2 = _value_view(  # same-args reopen must not hit the layout check
        spark,
        tmp_path,
        agg_exprs=[F.sum("v").alias("v"), F.max("v").alias("v_max")],
        two_level=False,
    )
    [row] = v2.final_df().collect()
    assert (row["v"], row["v_max"]) == (8, 5)


def test_alter_reduce_to_custom_reduce_fn(spark, tmp_path):
    """Alter from algebraic aggregates to an arbitrary applyInPandas
    Reduce (two-level drops: a non-algebraic reduce has no mergeable
    partials)."""

    def median_reduce(pdf):
        import pandas as pd

        return pd.DataFrame(
            {
                "kspan": [pdf["kspan"].iloc[0]],
                "grp": [pdf["grp"].iloc[0]],
                "median_v": [float(pdf["v"].median())],
            }
        )

    v = _value_view(
        spark, tmp_path, agg_exprs=[F.sum("v").alias("v")]
    )
    assert v.two_level  # sum over its own alias is re-reduce closed
    v.execute(_vrows(spark, [("a", "g", 1), ("b", "g", 9), ("c", "g", 4)]))
    v.alter_reduce(
        reduce_fn=median_reduce, reduce_schema="grp string, median_v double"
    )
    assert not v.two_level
    assert v._l1_t.spans() == {}  # partials dropped with the mode
    assert v.final_df().collect()[0]["median_v"] == 4.0


def test_alter_reduce_validation(spark, tmp_path):
    v = _value_view(
        spark, tmp_path, agg_exprs=[F.sum(F.lit(1)).alias("cnt")]
    )
    with pytest.raises(ValueError):
        v.alter_reduce()
    with pytest.raises(ValueError):
        v.alter_reduce(
            agg_exprs=[F.sum("v").alias("v")], reduce_fn=lambda p: p
        )
    with pytest.raises(ValueError):
        v.alter_reduce(reduce_fn=lambda p: p)  # missing schema


def test_alter_reduce_interleaved_with_upserts_property(spark, tmp_path):
    """Randomized: upsert batches with alters in between — after every
    step, materialized finals equal the latest-wins oracle under the
    CURRENT reduce definition (delete/upsert state is independent of
    which reduce is installed; only the finals change shape)."""
    import random

    rng = random.Random(7)
    reduces = [
        ("cnt_only", [F.sum(F.lit(1)).alias("cnt")]),
        (
            "cnt_and_sum",
            [F.sum(F.lit(1)).alias("cnt"), F.sum("v").alias("v_sum")],
        ),
        ("min_max", [F.min("v").alias("v_min"), F.max("v").alias("v_max")]),
    ]
    cur = 0
    v = _value_view(spark, tmp_path, agg_exprs=reduces[cur][1])
    latest: dict[str, tuple[str, int]] = {}
    for step in range(6):
        batch = {}
        for _ in range(rng.randint(1, 25)):
            doc = f"d-{rng.randint(1, 40)}"
            batch[doc] = (rng.choice(["g", "h", "k"]), rng.randint(0, 99))
        latest.update(batch)
        v.execute(
            _vrows(spark, [(d, g, val) for d, (g, val) in sorted(batch.items())])
        )
        if step % 2 == 1:  # alter on odd steps
            cur = (cur + 1) % len(reduces)
            v.alter_reduce(agg_exprs=reduces[cur][1])
        per_group: dict[str, list[int]] = {}
        for g, val in latest.values():
            per_group.setdefault(g, []).append(val)
        name = reduces[cur][0]
        got = {r["grp"]: r.asDict() for r in v.final_df().collect()}
        assert set(got) == set(per_group)
        for g, vals in per_group.items():
            if name == "cnt_only":
                assert got[g]["cnt"] == len(vals)
            elif name == "cnt_and_sum":
                assert (got[g]["cnt"], got[g]["v_sum"]) == (
                    len(vals),
                    sum(vals),
                )
            else:
                assert (got[g]["v_min"], got[g]["v_max"]) == (
                    min(vals),
                    max(vals),
                )


def test_multi_column_group_key(spark, tmp_path):
    """Composite group keys: kspan derives from ALL group columns
    (concat_ws crc32), point lookups take the full composite key, and
    migration of one component moves the doc between groups."""
    v = MapReduceView(
        spark,
        str(tmp_path / "multi_key"),
        id_col="id",
        group_cols=["state", "city"],
        agg_exprs=[
            F.count(F.lit(1)).alias("cnt"),
            F.sum("v").alias("v_sum"),
        ],
        n_key_spans=8,
        n_doc_spans=8,
    )
    mk = lambda rows: spark.createDataFrame(
        rows, "id string, state string, city string, v long"
    )
    v.execute(
        mk(
            [
                ("a", "CA", "SF", 1),
                ("b", "CA", "SF", 2),
                ("c", "CA", "LA", 4),
                ("d", "TX", "SF", 8),  # same city, different state
            ]
        )
    )
    got = {
        (r["state"], r["city"]): (r["cnt"], r["v_sum"])
        for r in v.final_df().collect()
    }
    assert got == {
        ("CA", "SF"): (2, 3),
        ("CA", "LA"): (1, 4),
        ("TX", "SF"): (1, 8),
    }
    # composite-key point lookup, spark and serving paths
    row = v.query("CA", "SF").collect()
    assert len(row) == 1 and row[0]["v_sum"] == 3
    local = v.query_local("TX", "SF")
    assert len(local) == 1 and local[0]["cnt"] == 1
    assert v.query("CA", "Austin").count() == 0  # unknown composite
    # migrate one component: b moves SF -> LA within CA
    v.execute(mk([("b", "CA", "LA", 2)]))
    got = {
        (r["state"], r["city"]): (r["cnt"], r["v_sum"])
        for r in v.final_df().collect()
    }
    assert got == {
        ("CA", "SF"): (1, 1),
        ("CA", "LA"): (2, 6),
        ("TX", "SF"): (1, 8),
    }


def test_view_history_audit_trail(spark, tmp_path):
    v = people_view(spark, tmp_path)
    v.execute(people_df(spark, [("a", "CA")]))
    v.execute(people_df(spark, [("b", "TX")]))
    h = v.history()
    assert set(h) >= {"map_results", "final_results", "doc_index"}
    assert [e["version"] for e in h["final_results"]][:1] == [
        max(e["version"] for e in h["final_results"])
    ]
    assert all(e["committed_at"] is not None for e in h["map_results"])
