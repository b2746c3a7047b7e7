"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded by the benchmark's own code around its calls into
each layer's public functions, kept in memory, and folded into per-layer
numbers at the end. Spark's side comes from the event log, which the
launcher enables for the traced run only; every job the benchmark causes
runs under a job group naming the operation, so jobs are attributed to
operations exactly.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict
from typing import Optional

from pixeltable_spark.commit_store import PosixCommitStore

#: job-group prefix of every job the benchmark causes on purpose
LABEL = "pb"


class Tracer:
    """Span store. ``active`` is flipped per loop cycle in the traced run,
    so traced and untraced cycles can be compared; when it is off every
    method returns at once."""

    def __init__(self):
        self.active = False
        self.op: Optional[str] = None     # label of the operation running
        self.spans: list[tuple] = []      # (op, layer, start, end, depth)
        self.depth = 0                    # of the innermost open span

    @contextlib.contextmanager
    def span(self, layer: str):
        if not self.active:
            yield
            return
        self.depth += 1
        depth, t0 = self.depth, time.time()
        try:
            yield
        finally:
            self.depth -= 1
            self.spans.append((self.op, layer, t0, time.time(), depth))

    def interval(self, layer: str, t0: float, t1: float) -> None:
        """A leaf span measured by the caller."""
        if self.active:
            self.spans.append((self.op, layer, t0, t1, self.depth + 1))


class TracingCommitStore(PosixCommitStore):
    """The default posix commit backend, with the wait for the mutation
    lock and each CURRENT swap recorded as spans."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    @contextlib.contextmanager
    def mutation_guard(self, table_path, table_name, timeout_s):
        t0 = time.time()
        with super().mutation_guard(table_path, table_name, timeout_s):
            self.tracer.interval("commit_store.guard_wait", t0, time.time())
            yield

    def swap_current(self, current_path, payload, expected_manifest,
                     table_name):
        t0 = time.time()
        super().swap_current(current_path, payload, expected_manifest,
                             table_name)
        self.tracer.interval("commit_store.swap", t0, time.time())


def dir_files(path: str) -> dict[str, int]:
    """{relative path: size} of every file under ``path``."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                out[os.path.relpath(p, path)] = os.path.getsize(p)
            except OSError:
                pass  # removed by a concurrent vacuum between walk and stat
    return out


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Parse the single event log in ``log_dir``.

    Returns ({job group: [(start_s, end_s), ...]},
             {job group: [stages, tasks]}); jobs outside any group are
    under the key None."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {names}")
    jobs: dict = defaultdict(list)
    stages: dict = defaultdict(lambda: [0, 0])
    start: dict[int, tuple] = {}
    stage_group: dict[int, Optional[str]] = {}
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                start[ev["Job ID"]] = (group, ev["Submission Time"] / 1e3)
            elif kind == "SparkListenerJobEnd":
                group, t0 = start.pop(ev["Job ID"])
                jobs[group].append((t0, ev["Completion Time"] / 1e3))
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stage_group[info["Stage ID"]] = (
                    ev.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                s = stages[stage_group.get(info["Stage ID"])]
                s[0] += 1
                s[1] += info["Number of Tasks"]
    return jobs, stages


def union_s(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_times(intervals: list[tuple]) -> dict[str, float]:
    """Self time per layer of one operation: each instant is charged to
    the deepest interval covering it. ``intervals`` are
    (layer, start, end, depth); Spark jobs are the deepest layer."""
    points = sorted({p for _l, a, b, _d in intervals for p in (a, b)})
    out: dict[str, float] = defaultdict(float)
    for a, b in zip(points, points[1:]):
        mid = (a + b) / 2
        cover = [(d, layer) for layer, s, e, d in intervals if s <= mid < e]
        if cover:
            out[max(cover)[1]] += b - a
    return out


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
