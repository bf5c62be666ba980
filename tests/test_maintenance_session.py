"""Right-sized maintenance in the shrunk regime, on any core count.

A maintenance phase shrinks only when its derived partition count is
below the caller's ``spark.sql.shuffle.partitions``. The test session
runs at ``max(cpus, 8)`` partitions and every derived count floors at
8, so on a box with 8 or fewer cores no phase ever shrinks. This test
raises the caller's partition count to 64 for the duration, so a small
lifecycle of every maintained class runs its phases on child sessions,
and pins three things:

- (a) the results equal the same lifecycle at the default conf;
- (b) the caller's conf never changes while maintenance writes run,
  and the frames those writes execute carry the child's conf
  (8 static partitions, AQE off);
- (c) the returned serving plans still broadcast: no maintenance join
  hint leaks into them.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from updatable_persistent_map_reduce_spark.plans import MapReduceView
from updatable_persistent_map_reduce_spark.plans.ann_index import IvfIndex
from updatable_persistent_map_reduce_spark.plans.join_view import JoinView
from updatable_persistent_map_reduce_spark.plans.neardup_index import (
    NearDupIndex,
)
from updatable_persistent_map_reduce_spark.plans.store import ManifestTable
from updatable_persistent_map_reduce_spark.plans.text_index import (
    InvertedIndex,
)

CALLER_CONF = (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.sources.parallelPartitionDiscovery.threshold",
)
_WORDS = [f"w{i:02d}" for i in range(40)]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _lifecycle(spark, root):
    """Build, update and serve one small instance of every maintained
    class; returns (results, serving plans)."""
    out, plans = {}, {}

    v = MapReduceView(
        spark,
        str(root / "view"),
        id_col="id",
        group_cols=["state"],
        agg_exprs=[F.count(F.lit(1)).alias("cnt")],
        n_key_spans=4,
        n_doc_spans=4,
    )
    people = "id string, state string"
    v.execute(spark.createDataFrame(
        [(f"p{i}", "CA" if i % 3 else "TX") for i in range(30)], people
    ))
    # five docs migrate to a new group, then five more are deleted
    v.execute(spark.createDataFrame([(f"p{i}", "NY") for i in range(5)], people))
    v.delete_docs([f"p{i}" for i in range(5, 10)])
    out["view"] = sorted(tuple(r) for r in v.final_df().collect())

    jv = JoinView(
        spark,
        str(root / "join"),
        fact_id="okey",
        join_col="ckey",
        dim_id="ckey",
        group_cols=["segment"],
        agg_exprs=[F.sum("v").cast("bigint").alias("sv")],
        rereduce_exprs=[F.sum("sv").cast("bigint").alias("sv")],
        n_spans=4,
    )
    jv.upsert_dims(spark.createDataFrame(
        [(c, f"s{c % 2}") for c in range(6)], "ckey long, segment string"
    ))
    jv.upsert_facts(spark.createDataFrame(
        [(o, o % 6, o) for o in range(20)], "okey long, ckey long, v long"
    ))
    out["join"] = sorted(tuple(r) for r in jv.final_df().collect())

    vecs = np.random.RandomState(7).randn(24, 8)
    emb = "vec_id long, embedding array<float>"
    ivf = IvfIndex(spark, str(root / "ivf"), n_cells=4)
    ivf.build(spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)], emb
    ))
    ivf.upsert(spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20, 24)], emb
    ))
    served = ivf.search([(0, [float(x) for x in vecs[0]])], k=5, nprobe=4)
    out["search"] = sorted(tuple(r) for r in served.collect())
    plans["search"] = _plan(served)

    text = "doc_id long, text string"
    inv = InvertedIndex(spark, str(root / "inv"), n_spans=8)
    inv.build(spark.createDataFrame(
        [(1, "spark join window hash join"), (2, "window sort filter")], text
    ))
    inv.upsert(spark.createDataFrame(
        [(2, "hash join only"), (3, "join join window hash")], text
    ))
    served = inv.bm25(["join", "window", "hash"])
    out["bm25"] = sorted(tuple(r) for r in served.collect())
    plans["bm25"] = _plan(served)

    nd = NearDupIndex(spark, str(root / "nd"), n_perm=16, n_bands=16)
    nd.build(spark.createDataFrame(
        [(1, " ".join(_WORDS[:20])), (2, " ".join(_WORDS[20:]))], text
    ))
    nd.append(spark.createDataFrame([(3, " ".join(_WORDS[5:25]))], text))
    served = nd.probe(spark.createDataFrame(
        [(10, " ".join(_WORDS[:19] + ["x"]))], text
    ))
    out["probe"] = sorted(tuple(r) for r in served.collect())
    plans["probe"] = _plan(served)
    return out, plans


def test_shrunk_maintenance_leaves_caller_conf_alone(
    spark, tmp_path, monkeypatch
):
    expected, _ = _lifecycle(spark, tmp_path / "default")
    assert expected["probe"], "the planted near-dup pair must be found"

    seen: list[tuple[dict, str, str]] = []
    write_data = ManifestTable.write_data

    def spy(self, df, *a, **k):
        run_on = df.sparkSession.conf
        seen.append((
            {key: spark.conf.get(key) for key in CALLER_CONF},
            run_on.get("spark.sql.shuffle.partitions"),
            run_on.get("spark.sql.adaptive.enabled"),
        ))
        return write_data(self, df, *a, **k)

    key = "spark.sql.shuffle.partitions"
    default = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        caller = {k: spark.conf.get(k) for k in CALLER_CONF}
        monkeypatch.setattr(ManifestTable, "write_data", spy)
        got, plans = _lifecycle(spark, tmp_path / "shrunk")
        monkeypatch.undo()
        after = {k: spark.conf.get(k) for k in CALLER_CONF}
    finally:
        monkeypatch.undo()
        spark.conf.set(key, default)

    assert got == expected  # (a)
    assert seen
    assert all(c == caller for c, _, _ in seen), [c for c, _, _ in seen]  # (b)
    assert after == caller
    assert ("8", "false") in {(n, aqe) for _, n, aqe in seen}, seen
    for name, plan in plans.items():  # (c)
        assert "Broadcast" in plan, (name, plan)
