"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 graftbench/run.py --workload view_trickle --seed 1 --seconds 20 --trace 0

Run from the repository root. The run starts a Spark session through
the engine's ``get_spark``, generates every input from ``--seed``,
builds the stores, runs an untimed warm-up step, then a fixed number of
timed steps (``--seconds`` / the workload's nominal step time), checks
every answer against driver-side oracles and prints, as its last line,
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` installs the span tracer and the
UDF profiler and reports the per-layer metrics instead.

Everything the run writes goes under ``.graftbench_work/`` in the
current directory and is removed at exit. Exit codes: 0 = result
printed and correct, 1 = result printed and some answer wrong,
2 = the engine could not be imported (no result printed).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Sized for a 4-vCPU, 15 GB, swapless box: local[4], and a driver heap
# that leaves room for the Python workers (the engine's bench.py
# default of 28g does not fit).
CPUS = "4"
DRIVER_MEM = "2g"
WORKLOADS = ("view_trickle", "llm_ingest_search")


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument(
        "--corrupt-lookup", action="store_true",
        help="falsify one recorded serving answer (oracle smoke test)",
    )
    return ap.parse_args()


def _environment(work: str, trace: bool) -> None:
    """Pin sizing and keep every file the JVM writes inside ``work``;
    must run before pyspark starts the JVM."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        # keep every job in the status store for attribution
        confs["spark.ui.retainedJobs"] = "1000000"
        confs["spark.ui.retainedStages"] = "1000000"
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    # no hsperfdata file under /tmp: a JVM writes there regardless of
    # java.io.tmpdir (the launcher JVM of spark-submit included)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    args.append(f"--driver-java-options {shlex.quote(java)}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — fall back to a hard stop
            proc.kill()
            proc.wait()


def _warm_session(spark, path: str) -> None:
    """First Spark job, first Python worker and first parquet write and
    read: start-up belongs to set-up, not to the build."""
    from pyspark.sql import functions as F

    plus_one = F.pandas_udf(lambda x: x + 1, "long")
    spark.range(10_000).select(F.sum(plus_one("id"))).collect()
    spark.range(10_000).repartition(4).write.parquet(path)
    spark.read.parquet(path).selectExpr("count(*)").collect()


def main() -> int:
    args = _parse()
    work = os.path.join(os.getcwd(), ".graftbench_work", f"{args.workload}-{os.getpid()}")
    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "updatable_persistent_map_reduce_spark")):
        print("graftbench: engine package not found next to graftbench/", file=sys.stderr)
        return 2
    try:
        return _run(args, work, root)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass


def _run(args: argparse.Namespace, work: str, root: str) -> int:
    _environment(work, bool(args.trace))
    sys.path.insert(0, root)
    try:
        import layers
        from common import Ops, Oracle, Timer, manifest_totals
        from procstat import PeakRss, tree_cpu_seconds

        from updatable_persistent_map_reduce_spark.session import get_spark
    except ImportError as e:
        print(f"graftbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload == "view_trickle":
        import view_trickle as wl
    else:
        import llm_ingest_search as wl

    spark = get_spark(f"graftbench-{args.workload}")
    try:
        _warm_session(spark, os.path.join(work, "warm"))
        session_s = time.perf_counter() - T_START

        # Generation runs three times: the median is set-up time, and
        # the three results must agree (same seed, same inputs).
        n_steps = max(1, round(args.seconds / wl.STEP_S))
        gens, inputs = [], []
        for _ in range(3):
            t = Timer()
            inputs.append(wl.generate(args.size, args.seed, n_steps))
            gens.append(t())
        if not (inputs[0] == inputs[1] == inputs[2]):
            print("graftbench: generation is not deterministic", file=sys.stderr)
            return 1
        inp = inputs[0]

        ops = Ops()
        w = wl.Workload(spark, os.path.join(work, "store"), ops)
        t = Timer()
        built = w.build(inp)
        build_s = t()
        t = Timer()
        w.step(inp.warmup)
        warmup_s = t()
        setup_s = session_s + statistics.median(gens) + build_s + warmup_s

        # The generated inputs and the oracle model are long-lived
        # harness objects; keep the collector from re-scanning them in
        # the middle of timed calls.
        gc.collect()
        gc.freeze()
        tracer = layers.install(spark) if args.trace else None
        ops.attempted = ops.failed = 0
        me = os.getpid()
        batch_s, serve_s, applied = [], [], 0
        with PeakRss(me) as rss:
            cpu0 = tree_cpu_seconds(me)
            for s in inp.steps:
                b, n, lat = w.step(s)
                batch_s.append(b)
                applied += n
                serve_s += lat
            timed_cpu_s = tree_cpu_seconds(me) - cpu0
        if tracer is not None:
            per_layer = layers.report(
                spark, tracer, w, batch_s, applied, session_s, build_s
            )

        oracle = Oracle()
        if args.corrupt_lookup:
            w.corrupt_one_lookup()
        w.check(oracle)
        live = w.live_records()
        store_bytes = manifest_totals(w.engine_objects())["bytes"]
    finally:
        _stop_spark(spark)

    for f in oracle.failures:
        print(f"graftbench: wrong answer: {f}", file=sys.stderr)
    if args.trace:
        metrics = per_layer
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "ingest_docs_per_s": (applied / sum(batch_s), "1/s"),
            "batch_p50_s": (statistics.median(batch_s), "s"),
            "serve_p50_ms": (1000 * statistics.median(serve_s), "ms"),
            "timed_cpu_s": (timed_cpu_s, "s"),
            "peak_rss_mb": (rss.peak / 2**20, "MB"),
            "store_bytes_per_doc": (store_bytes / live, "B"),
            "answer_recall": (oracle.recall, "ratio"),
        }
    print(
        f"graftbench: {args.workload} seed={args.seed} steps={len(batch_s)} "
        f"built={built} serve_calls={len(serve_s)} checked={int(oracle.checked)} "
        f"session={session_s:.1f}s warmup={warmup_s:.1f}s batches={[round(b, 2) for b in batch_s]} "
        f"cpus={CPUS} driver_mem={DRIVER_MEM} wall={time.perf_counter() - T_START:.1f}s",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": oracle.correct and ops.failed == 0,
                "attempted": ops.attempted,
                "failed": ops.failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
                },
            }
        )
    )
    return 0 if oracle.correct and ops.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
