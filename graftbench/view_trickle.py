"""``view_trickle``: small upsert batches into a two-level
``MapReduceView`` and a ``JoinView``, each step ending in a burst of
``query_local`` lookups on Zipf-hot keys.

The view is the reference's ``PeopleCountByState`` at scale: docs carry
a Zipf-distributed group key over ~1k groups; the reduce is a
re-reducible count plus sum. The join view groups fact rows by a dim
attribute (fact ⋈ dim), so a dim-attribute update has to retro-propagate
through every joined fact.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from common import Ops, Oracle, Timer, zipf_cdf, zipf_draw

SIZES = {
    # corpus docs, groups, docs per batch, deletes per delete step,
    # facts, dims, segments, facts per batch, dims per dim step,
    # lookups per step
    "full": dict(
        docs=20_000, groups=1_000, batch=300, deletes=40,
        facts=10_000, dims=400, segs=16, fact_batch=200, dim_batch=8,
        lookups=500,
    ),
    "tiny": dict(
        docs=600, groups=60, batch=40, deletes=6,
        facts=300, dims=40, segs=4, fact_batch=30, dim_batch=3,
        lookups=20,
    ),
}
INSERT_SHARE = 0.2    # share of a batch that is new ids
MIGRATE_SHARE = 0.25  # share of re-submitted ids that change group key
ZIPF_S = 1.1
# View layout, sized as a user sizing the store would: 16 key spans x 4
# doc buckets = 64 map-table pairs. A re-submit-heavy batch rewrites its
# dirty pairs copy-on-write, so the map table stays near one file per
# pair while the doc index gains one file per doc span per batch; the
# auto-compaction trigger watches only the map table, so it is set to
# fire whenever the map table holds any extra file, which is after
# every batch here (and it also rewrites the doc index).
VIEW_OPTIONS = dict(
    n_key_spans=16, n_doc_spans=16, n_sub_buckets=4,
    auto_compact_files_per_span=1,
)
JOIN_SPANS = 8
STEP_S = 5.0  # seconds of --seconds per timed step (sets the step count)


@dataclass
class Step:
    docs: list[tuple[str, str, int]]
    deletes: list[str] = field(default_factory=list)
    facts: list[tuple[int, int, int]] = field(default_factory=list)
    dims: list[tuple[int, str]] = field(default_factory=list)
    lookups: list[str] = field(default_factory=list)


@dataclass
class Inputs:
    corpus: list[tuple[str, str, int]]
    facts: list[tuple[int, int, int]]
    dims: list[tuple[int, str]]
    warmup: Step
    steps: list[Step]


def _gkey(g: int) -> str:
    return f"g{g:04d}"


def generate(size: str, seed: int, n_steps: int) -> Inputs:
    """The whole operation sequence, from the seed alone. Every step
    upserts a view batch. The warm-up step also deletes docs and
    upserts facts and dims; timed steps alternate a delete step and a
    join step (facts + dims), which cost about the same."""
    p = SIZES[size]
    rng = random.Random(seed)
    cdf = zipf_cdf(p["groups"], ZIPF_S)
    next_id = 0

    def new_doc() -> tuple[str, str, int]:
        nonlocal next_id
        next_id += 1
        return (f"d{next_id:07d}", _gkey(zipf_draw(rng, cdf)), rng.randrange(100))

    corpus = [new_doc() for _ in range(p["docs"])]
    live = {d[0]: d for d in corpus}
    live_ids = list(live)
    segs = [f"s{i:02d}" for i in range(p["segs"])]
    dims = {k: rng.choice(segs) for k in range(p["dims"])}
    facts = {
        f: (rng.randrange(p["dims"]), rng.randrange(1000)) for f in range(p["facts"])
    }
    next_fact = p["facts"]

    def step(deletes: bool, join: bool) -> Step:
        nonlocal next_fact
        n_new = int(p["batch"] * INSERT_SHARE)
        chosen = rng.sample(live_ids, p["batch"] - n_new)
        docs = []
        for i in chosen:
            grp = live[i][1]
            if rng.random() < MIGRATE_SHARE:
                grp = _gkey(zipf_draw(rng, cdf))
            docs.append((i, grp, rng.randrange(100)))
        docs += [new_doc() for _ in range(n_new)]
        for d in docs:
            if d[0] not in live:
                live_ids.append(d[0])
            live[d[0]] = d
        gone: list[str] = []
        if deletes:
            batch_ids = {d[0] for d in docs}
            pool = [i for i in rng.sample(live_ids, 4 * p["deletes"]) if i not in batch_ids]
            gone = pool[: p["deletes"]]
            for i in gone:
                del live[i]
            gone_set = set(gone)
            live_ids[:] = [i for i in live_ids if i not in gone_set]
        fb = {}
        dim_rows = []
        if join:
            n_new_f = p["fact_batch"] // 4
            for f in rng.sample(sorted(facts), p["fact_batch"] - n_new_f):
                dk, _ = facts[f]
                if rng.random() < 0.3:  # the fact migrates to another dim
                    dk = rng.randrange(p["dims"])
                fb[f] = (dk, rng.randrange(1000))
            for _ in range(n_new_f):
                fb[next_fact] = (rng.randrange(p["dims"]), rng.randrange(1000))
                next_fact += 1
            facts.update(fb)
            for k in rng.sample(range(p["dims"]), p["dim_batch"]):
                dims[k] = rng.choice(segs)
                dim_rows.append((k, dims[k]))
        lookups = [_gkey(zipf_draw(rng, cdf)) for _ in range(p["lookups"])]
        return Step(
            docs=docs,
            deletes=gone,
            facts=[(f, dk, v) for f, (dk, v) in fb.items()],
            dims=dim_rows,
            lookups=lookups,
        )

    corpus_facts = [(f, dk, v) for f, (dk, v) in facts.items()]
    corpus_dims = sorted(dims.items())
    warmup = step(deletes=True, join=True)
    steps = [step(deletes=i % 2 == 0, join=i % 2 == 1) for i in range(n_steps)]
    return Inputs(corpus, corpus_facts, corpus_dims, warmup, steps)


class Workload:
    def __init__(self, spark, root: str, ops: Ops):
        from pyspark.sql import functions as F

        from updatable_persistent_map_reduce_spark.api import Executer, MapReduceTask
        from updatable_persistent_map_reduce_spark.plans.join_view import JoinView

        self.spark = spark
        self.ops = ops
        task = MapReduceTask(
            id_col="id",
            group_cols=["grp"],
            map_fn=lambda df: df.select(
                "id",
                "grp",
                F.lit(1).cast("long").alias("cnt"),
                F.col("v").cast("long").alias("sv"),
            ),
            agg_exprs=[F.sum("cnt").alias("cnt"), F.sum("sv").alias("sv")],
            options=dict(VIEW_OPTIONS),
        )
        self.ex = Executer.create(spark, task, f"{root}/view")
        self.jv = JoinView(
            spark,
            f"{root}/join",
            fact_id="fid",
            join_col="dk",
            dim_id="dk",
            group_cols=["seg"],
            agg_exprs=[
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum("v").cast("bigint").alias("sv"),
            ],
            rereduce_exprs=[
                F.sum("n").cast("bigint").alias("n"),
                F.sum("sv").cast("bigint").alias("sv"),
            ],
            n_spans=JOIN_SPANS,
        )
        # driver-side model, replayed from the operations that succeeded
        self.docs: dict[str, tuple[str, int]] = {}
        self.facts: dict[int, tuple[int, int]] = {}
        self.dims: dict[int, str] = {}
        self.lookup_answers: list[tuple[str, list[dict], dict | None]] = []

    # ----- inputs as DataFrames (built before a batch's clock starts) ------

    def _docs_df(self, rows):
        return self.spark.createDataFrame(rows, "id string, grp string, v int")

    def _facts_df(self, rows):
        return self.spark.createDataFrame(rows, "fid long, dk long, v long")

    def _dims_df(self, rows):
        return self.spark.createDataFrame(rows, "dk long, seg string")

    # ----- lifecycle ---------------------------------------------------------

    def build(self, inp: Inputs) -> int:
        docs, dims, facts = (
            self._docs_df(inp.corpus), self._dims_df(inp.dims), self._facts_df(inp.facts)
        )
        self.ex.execute(docs)
        self.jv.upsert_dims(dims)
        self.jv.upsert_facts(facts)
        self.docs = {i: (g, v) for i, g, v in inp.corpus}
        self.dims = dict(inp.dims)
        self.facts = {f: (dk, v) for f, dk, v in inp.facts}
        return len(inp.corpus) + len(inp.dims) + len(inp.facts)

    def step(self, s: Step) -> tuple[float, int, list[float]]:
        """One step: the batch (timed from its first update call to its
        last commit), then the lookup burst (each lookup timed).
        Returns (batch seconds, records applied, lookup seconds)."""
        docs = self._docs_df(s.docs)
        facts = self._facts_df(s.facts) if s.facts else None
        dims = self._dims_df(s.dims) if s.dims else None
        t = Timer()
        ok, _ = self.ops.run(self.ex.execute, docs)
        if ok:
            self.docs.update({i: (g, v) for i, g, v in s.docs})
        if s.deletes:
            ok, _ = self.ops.run(self.ex.delete, s.deletes)
            if ok:
                for i in s.deletes:
                    self.docs.pop(i, None)
        if facts is not None:
            ok, _ = self.ops.run(self.jv.upsert_facts, facts)
            if ok:
                self.facts.update({f: (dk, v) for f, dk, v in s.facts})
        if dims is not None:
            ok, _ = self.ops.run(self.jv.upsert_dims, dims)
            if ok:
                self.dims.update(dict(s.dims))
        batch_s = t()
        applied = len(s.docs) + len(s.deletes) + len(s.facts) + len(s.dims)

        expected = self._group_totals()
        lat = []
        for key in s.lookups:
            t = Timer()
            ok, rows = self.ops.run(self.ex.query_local, key)
            lat.append(t())
            if ok:
                self.lookup_answers.append((key, rows, expected.get(key)))
        return batch_s, applied, lat

    def _group_totals(self) -> dict[str, dict]:
        out: dict[str, dict] = {}
        for g, v in self.docs.values():
            row = out.setdefault(g, {"grp": g, "cnt": 0, "sv": 0})
            row["cnt"] += 1
            row["sv"] += v
        return out

    # ----- oracle (untimed) --------------------------------------------------

    def check(self, oracle: Oracle) -> None:
        import pandas as pd

        for key, rows, want in self.lookup_answers:
            got = [{k: r[k] for k in ("grp", "cnt", "sv")} for r in rows]
            oracle.check(got == ([want] if want else []), f"query_local({key})")
        want = self._group_totals()
        got = {
            r["grp"]: {"grp": r["grp"], "cnt": r["cnt"], "sv": r["sv"]}
            for r in self.ex.final_df().collect()
        }
        for g in set(want) | set(got):
            oracle.check(got.get(g) == want.get(g), f"final_df[{g}]")
        f = pd.DataFrame(
            [(dk, v) for dk, v in self.facts.values()], columns=["dk", "v"]
        )
        d = pd.DataFrame(list(self.dims.items()), columns=["dk", "seg"])
        j = f.merge(d, on="dk").groupby("seg").agg(n=("v", "size"), sv=("v", "sum"))
        want_j = {s: (int(r.n), int(r.sv)) for s, r in j.iterrows()}
        got_j = {r["seg"]: (r["n"], r["sv"]) for r in self.jv.final_df().collect()}
        for s in set(want_j) | set(got_j):
            oracle.check(got_j.get(s) == want_j.get(s), f"join final_df[{s}]")

    def corrupt_one_lookup(self) -> None:
        """Smoke-test hook: falsify one recorded lookup answer."""
        key, rows, want = self.lookup_answers[0]
        bad = [dict(r, cnt=r["cnt"] + 1) for r in rows] or [{"grp": key, "cnt": 1, "sv": 0}]
        self.lookup_answers[0] = (key, bad, want)

    def live_records(self) -> int:
        return len(self.docs) + len(self.facts) + len(self.dims)

    def engine_objects(self) -> list:
        return [self.ex._view, self.jv]
