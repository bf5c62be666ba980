"""Per-layer instrumentation for ``--trace 1``: which public engine
methods get a span, and how the spans become per-layer metrics.

Every workload prints every metric; a layer the workload does not use
reads 0.
"""

from __future__ import annotations

import os
import statistics

from common import manifest_totals
from tracer import Tracer, spark_jobs, udf_python_seconds

# (module, class, method, span name)
SPANS = [
    ("plans.view", "MapReduceView", "execute", "view.execute"),
    ("plans.view", "MapReduceView", "delete_docs", "view.delete_docs"),
    ("plans.view", "MapReduceView", "compact_map", "view.compact_map"),
    ("plans.view", "MapReduceView", "compact_index", "view.compact_index"),
    ("plans.view", "MapReduceView", "query_local", "view.query_local"),
    ("plans.store", "ManifestTable", "read", "store.read"),
    ("plans.store", "ManifestTable", "write_data", "store.write_data"),
    ("plans.store", "ManifestTable", "commit", "store.commit"),
    ("plans.store", "ManifestTable", "merge", "store.merge"),
    ("plans.store", "ManifestTable", "append_materializing", "store.append_materializing"),
    ("plans.store", "ManifestTable", "compact", "store.compact"),
    ("plans.store", "ManifestTable", "spans", "store.spans"),
    ("plans.join_view", "JoinView", "upsert_facts", "join_view.upsert_facts"),
    ("plans.join_view", "JoinView", "upsert_dims", "join_view.upsert_dims"),
    ("plans.neardup_index", "NearDupIndex", "probe", "neardup.probe"),
    ("plans.neardup_index", "NearDupIndex", "append", "neardup.append"),
    ("plans.ann_index", "IvfIndex", "upsert", "ann.upsert"),
    ("plans.ann_index", "IvfIndex", "search", "ann.search"),
    ("plans.text_index", "InvertedIndex", "upsert", "text.upsert"),
    ("plans.text_index", "InvertedIndex", "bm25", "text.bm25"),
]
# Python function names of the kernels inside their pandas UDFs
KERNELS = {
    "shingle_minhash": "kernel.shingle_minhash.python_s",
    "assign": "kernel.assign.python_s",
}


def install(spark) -> Tracer:
    import importlib

    tr = Tracer()
    last_spans = [{}]  # the latest manifest mapping, as a lookup resolved it

    def on_spans(out, args):
        last_spans[0] = out

    def on_write(out, args):
        table = args[0]
        tr.add("store.write_data.files", sum(len(v) for v in out.values()))
        tr.add(
            "store.write_data.bytes",
            sum(
                os.path.getsize(os.path.join(table.path, f))
                for v in out.values()
                for f in v
            ),
        )

    def on_lookup(out, args):
        view, key = args[0], args[1:]
        tr.add("lookups", 1)
        tr.add("lookup_files", len(last_spans[0].get(view._span_of(key), [])))

    def on_probe(out, args):
        lp = args[0].last_probe or {}
        tr.add("band_spans_read", lp.get("band_spans_read", 0))
        tr.add("band_spans_total", lp.get("band_spans_total", 0))

    posts = {
        "store.spans": on_spans,
        "store.write_data": on_write,
        "view.query_local": on_lookup,
        "neardup.probe": on_probe,
    }
    for mod, cls, meth, name in SPANS:
        klass = getattr(
            importlib.import_module(f"updatable_persistent_map_reduce_spark.{mod}"), cls
        )
        tr.wrap(klass, meth, name, post=posts.get(name))
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    return tr


def report(spark, tr: Tracer, workload, batch_s: list[float], applied: int,
           session_s: float, build_s: float) -> dict[str, tuple[float, str]]:
    tr.uninstall()
    jobs = [j for j in spark_jobs(spark) if j[0] >= tr.wall0]  # timed phase only
    tr.attribute_jobs(jobs)
    agg = tr.by_name()

    def g(name: str, key: str = "s") -> float:
        return agg.get(name, {}).get(key, 0)

    # auto-compactions: compact_map calls made from inside view.execute
    auto = sum(
        1
        for s in tr.spans
        if s.name == "view.compact_map"
        and s.parent is not None
        and tr.spans[s.parent].name == "view.execute"
    )
    c = tr.counters
    store = manifest_totals(workload.engine_objects())
    n_spans = len(tr.spans)
    half = len(batch_s) // 2
    growth = (
        statistics.mean(batch_s[-half:]) / statistics.mean(batch_s[:half])
        if half
        else 1.0
    )
    m = {
        "session.get_spark.s": (session_s, "s"),
        "setup.build_s": (build_s, "s"),
        "view.execute.self_s": (g("view.execute", "self_s"), "s"),
        "view.execute.jobs": (g("view.execute", "jobs_incl"), "count"),
        "view.delete_docs.s": (g("view.delete_docs"), "s"),
        "view.compactions": (auto, "count"),
        "view.compact.s": (g("view.compact_map") + g("view.compact_index"), "s"),
        "view.query_local.s": (g("view.query_local"), "s"),
        "store.read.s": (g("store.read", "self_s"), "s"),
        "store.read.calls": (g("store.read", "calls"), "count"),
        "store.write_data.s": (g("store.write_data", "self_s"), "s"),
        "store.write_data.files": (c.get("store.write_data.files", 0), "count"),
        "store.write_data.bytes": (c.get("store.write_data.bytes", 0), "B"),
        "store.commit.s": (g("store.commit", "self_s"), "s"),
        "store.merge.s": (g("store.merge", "self_s"), "s"),
        "store.append_materializing.s": (g("store.append_materializing", "self_s"), "s"),
        "store.compact.s": (g("store.compact", "self_s"), "s"),
        "store.spans.s": (g("store.spans", "self_s"), "s"),
        "store.spans.calls": (g("store.spans", "calls"), "count"),
        "store.files_per_lookup": (
            c.get("lookup_files", 0) / max(c.get("lookups", 0), 1), "count"
        ),
        "store.bytes_written_per_doc": (
            c.get("store.write_data.bytes", 0) / max(applied, 1), "B"
        ),
        "store.versions": (store["versions"], "count"),
        "store.files_live": (store["files"], "count"),
        "join_view.upsert_facts.s": (g("join_view.upsert_facts"), "s"),
        "join_view.upsert_facts.jobs": (g("join_view.upsert_facts", "jobs_incl"), "count"),
        "join_view.upsert_dims.s": (g("join_view.upsert_dims"), "s"),
        "neardup.probe.s": (g("neardup.probe"), "s"),
        "neardup.probe.jobs": (g("neardup.probe", "jobs_incl"), "count"),
        "neardup.band_span_ratio": (
            c.get("band_spans_read", 0) / max(c.get("band_spans_total", 0), 1), "ratio"
        ),
        "neardup.append.s": (g("neardup.append"), "s"),
        "ann.upsert.s": (g("ann.upsert"), "s"),
        "ann.search.s": (g("ann.search"), "s"),
        "ann.search.jobs": (g("ann.search", "jobs_incl"), "count"),
        "text.upsert.s": (g("text.upsert"), "s"),
        "text.bm25.s": (g("text.bm25"), "s"),
        "text.bm25.jobs": (g("text.bm25", "jobs_incl"), "count"),
        "spark.jobs": (len(jobs), "count"),
        "spark.tasks": (sum(t for _, t in jobs), "count"),
        "trace.spans": (n_spans, "count"),
        "trace.overhead_s": (n_spans * tr.overhead_per_span_s(), "s"),
        "trace.batch_p50_s": (statistics.median(batch_s), "s"),
        "trace.batch_growth": (growth, "ratio"),
    }
    for metric, secs in udf_python_seconds(spark, KERNELS).items():
        m[metric] = (secs, "s")
    return m
