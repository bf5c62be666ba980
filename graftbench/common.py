"""Shared pieces of the workloads: Zipf sampling, the operation
counter, the oracle tally and manifest accounting."""

from __future__ import annotations

import bisect
import itertools
import random
import time
import traceback


def zipf_cdf(n: int, s: float) -> list[float]:
    weights = [1.0 / (k**s) for k in range(1, n + 1)]
    total = sum(weights)
    return list(itertools.accumulate(w / total for w in weights))


def zipf_draw(rng: random.Random, cdf: list[float]) -> int:
    """Index in [0, len(cdf)) drawn from the Zipf ``cdf``."""
    return min(bisect.bisect_left(cdf, rng.random()), len(cdf) - 1)


class Oracle:
    """Tally of checked answers: ``answer_recall`` = right / checked."""

    def __init__(self):
        self.checked = 0.0
        self.right = 0.0
        self.failures: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.checked += 1
        self.right += bool(ok)
        if not ok and len(self.failures) < 20:
            self.failures.append(what)

    def share(self, right: float, checked: float, what: str, floor: float) -> None:
        """A graded check (e.g. recall@10): counts ``right`` of
        ``checked``; the run fails when the share is below ``floor``."""
        self.checked += checked
        self.right += right
        if checked and right / checked < floor and len(self.failures) < 20:
            self.failures.append(f"{what}: {right}/{checked} < {floor}")

    @property
    def recall(self) -> float:
        return self.right / self.checked if self.checked else 0.0

    @property
    def correct(self) -> bool:
        return self.checked > 0 and not self.failures


class Ops:
    """Counts timed operations and the ones that raised. A raising
    operation is logged to stderr and the run goes on; the oracle then
    sees whatever state the engine was left in."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return True, fn(*args, **kwargs)
        except Exception:  # noqa: BLE001 — counted and reported
            self.failed += 1
            traceback.print_exc()
            return False, None


class Timer:
    def __init__(self):
        self.t0 = time.perf_counter()

    def __call__(self) -> float:
        return time.perf_counter() - self.t0


def _tables(objs):
    """Every ManifestTable held by ``objs`` (views, join views, indexes)."""
    from updatable_persistent_map_reduce_spark.plans.store import ManifestTable

    for obj in objs:
        for value in vars(obj).values():
            if isinstance(value, ManifestTable):
                yield value


def manifest_totals(objs) -> dict[str, int]:
    """Manifest-live files and bytes, and committed versions, summed
    over every table of ``objs``."""
    out = {"files": 0, "bytes": 0, "versions": 0}
    for t in _tables(objs):
        s = t.stats()
        out["files"] += s["files"]
        out["bytes"] += s["bytes"]
        out["versions"] += s["version"]
    return out
