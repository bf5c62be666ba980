"""Maintenance job sizing: the per-phase sizes plans/view.py asks
:func:`maintenance_session` for.

The hazard this pins down (a live review finding): a LARGE batch
following a small one must not inherit the small batch's partition
count for its heavy phase (survivor rewrite, re-aggregation, writes).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from updatable_persistent_map_reduce_spark.plans import view as view_mod
from updatable_persistent_map_reduce_spark.plans.view import MapReduceView


def _mk_view(spark, path, **kw):
    return MapReduceView(
        spark,
        str(path),
        id_col="doc_id",
        group_cols=["k"],
        agg_exprs=[F.count(F.lit(1)).alias("cnt")],
        n_key_spans=4,
        n_doc_spans=4,
        **kw,
    )


def _batch(spark, n, start=0):
    return spark.range(start, start + n).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("k"),
    )


def _record_sizes(monkeypatch):
    """Wrap the view module's maintenance_session to record every
    requested phase size."""
    calls: list[int | None] = []
    orig = view_mod.maintenance_session

    def spy(spark, n):
        calls.append(n)
        return orig(spark, n)

    monkeypatch.setattr(view_mod, "maintenance_session", spy)
    return calls


def test_large_after_small_resizes_heavy_phase(spark, tmp_path, monkeypatch):
    view = _mk_view(spark, tmp_path / "s1")
    # Shrink the sizing unit so a modest batch derives a partition
    # count ABOVE the _MIN_PARTITIONS floor — otherwise both the stale
    # hint and the correct size collapse to the floor and the
    # assertion cannot tell them apart.
    view._ROWS_PER_PARTITION = 1_000
    view.execute(_batch(spark, 100))  # small bootstrap -> meta hint small
    calls = _record_sizes(monkeypatch)
    big = 20_000
    view.execute(_batch(spark, big, start=1000))
    # The heavy phase must have been sized from THIS batch (20
    # partitions' worth), not the 100-row hint (floor = 8).
    want = view._size_partitions(big)
    assert want > view._MIN_PARTITIONS  # the test's own guard
    heavy_requests = [n for n in calls if n is not None]
    assert heavy_requests, "no derived phase sizes recorded"
    assert max(heavy_requests) >= want, heavy_requests
    # and the result is still right (id ranges disjoint -> pure insert)
    total = view.final_df().agg(F.sum("cnt")).collect()[0][0]
    assert total == 100 + big
