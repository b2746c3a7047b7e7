"""One benchmark run inside the pinned environment (see run.py).

Starts a Spark session, builds the workload's tables ``BUILDS`` times
(set-up time is the session start plus the median build plus the
workload's warm-up operations), runs the workload's untimed settling
cycles, then runs its operations in cycle order, one client in a
closed loop, until ``--seconds`` have passed.
Prints a summary, then one JSON line with the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``). Exits 1 if
any operation failed or returned a wrong result.

In a traced run the loop alternates traced and untraced cycles; the
per-layer numbers come from the traced ones and the tracing overhead is
the difference between the two.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback
from collections import defaultdict

from spans import (LABEL, Tracer, TracingCommitStore, dir_files, mean,
                   median, read_event_log, self_times, union_s)

BUILDS = 3
#: operation types whose query build and execution are timed apart
READS = ("lookup", "aggregate", "join", "udf_select", "timetravel", "count")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def vm_hwm_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def tail_summary(xs: list[float]) -> str:
    """Median, and the highest of p75/p90/p99 that has at least ten
    samples beyond it, with the sample count."""
    xs = sorted(xs)
    out = f"n={len(xs)} p50={median(xs) * 1e3:.1f}ms"
    for q in (99, 90, 75):
        if len(xs) * (100 - q) / 100 >= 10:
            out += f" p{q}={xs[math.ceil(len(xs) * q / 100) - 1] * 1e3:.1f}ms"
            break
    return out


class Run:
    def __init__(self, args):
        self.args = args
        self.tmp = args.tmp
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.attempted = self.failed = 0
        #: per operation: label, kind, wall seconds, traced, files and
        #: bytes written per table, counter deltas, conf leaked
        self.ops: list[dict] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: WRONG {what}", file=sys.stderr)

    def start(self):
        t0 = time.perf_counter()
        import pixeltable_spark as pxt
        self.spark = pxt.get_session(
            app_name=f"perfbench-{self.args.workload}")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0

    def label(self, name: str) -> None:
        self.sc.setJobGroup(f"{LABEL}:{name}", name)

    def setup(self):
        from workloads import WORKLOADS
        self.tracer = Tracer()
        inputs = os.path.join(self.tmp, "inputs")
        os.makedirs(inputs)
        self.label("setup")
        self.w = WORKLOADS[self.args.workload](
            self.spark, self.args.seed, self.tracer, inputs)
        store = TracingCommitStore(self.tracer) if self.args.trace else None
        self.builds = []
        for i in range(BUILDS):
            root = os.path.join(self.tmp, f"wh{i}")
            t0 = time.perf_counter()
            self.w.build(root, store)
            self.builds.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(os.path.join(self.tmp, f"wh{i - 1}"))
        self.root = root
        self.warm_s = self.untimed("warm-up", self.w.warmup())
        self.setup_s = self.session_s + median(self.builds) + self.warm_s
        self.conf0 = dict(self.spark.conf.getAll)

    def untimed(self, what: str, kinds: list[str]) -> float:
        """Runs and checks operations outside the timings; returns the
        seconds they took."""
        t0 = time.perf_counter()
        self.label(what)
        for kind in kinds:
            self.attempted += 1
            if not getattr(self.w, f"op_{kind}")()():
                self.fail(f"{what} {kind}")
        return time.perf_counter() - t0

    def settle(self):
        """The workload's settling cycles, run after the warm-up and left
        out of both the timings and the set-up time."""
        self.settle_s = self.untimed(
            "settle", self.w.cycle() * self.w.SETTLE_CYCLES)

    def counters(self) -> dict[str, float]:
        w = self.w
        return {name: acc.value for name in ("udf_calls", "embed_calls")
                if (acc := getattr(w, name, None)) is not None}

    def one_op(self, seq: int, kind: str, traced: bool) -> None:
        label = f"{LABEL}:{kind}:{seq}"
        self.sc.setJobGroup(label, kind)
        self.tracer.op = label
        if traced:
            paths = self.w.table_paths()
            files0 = {n: dir_files(p) for n, p in paths.items()}
            count0, rows0 = self.counters(), self.w.new_rows
        self.w.elapsed = None
        try:
            ok = getattr(self.w, f"op_{kind}")()()
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            ok = False
        self.attempted += 1
        if not ok:
            self.fail(label)
        wall = self.w.elapsed
        if wall is None:
            return  # raised inside its engine call: no latency to record
        self.lat[kind].append(wall)
        rec = {"label": label, "kind": kind, "wall": wall, "traced": traced}
        if traced:
            rec["files"], rec["bytes"] = {}, {}
            for n, p in paths.items():
                new = {f: s for f, s in dir_files(p).items()
                       if f not in files0[n]}
                rec["files"][n], rec["bytes"][n] = len(new), sum(new.values())
            count1 = self.counters()
            rec["counts"] = {k: count1[k] - count0[k] for k in count0}
            rec["new_rows"] = self.w.new_rows - rows0
            rec["conf_leak"] = dict(self.spark.conf.getAll) != self.conf0
        self.ops.append(rec)

    def loop(self):
        """Operations in cycle order until ``--seconds`` have passed, and
        at least one whole cycle, so every operation type is measured; a
        traced run alternates traced and untraced cycles and runs at
        least one of each."""
        deadline = time.perf_counter() + self.args.seconds
        cycle = self.w.cycle()
        seq = 0
        while (seq < len(cycle) * (1 + self.args.trace)
               or time.perf_counter() < deadline):
            n_cycle, i = divmod(seq, len(cycle))
            traced = bool(self.args.trace) and n_cycle % 2 == 0
            self.tracer.active = traced
            self.one_op(seq, cycle[i], traced)
            seq += 1
        self.tracer.active = False

    def finish(self):
        self.label("verify")
        for name, ok in self.w.verify():
            self.attempted += 1
            if not ok:
                self.fail(f"final check {name}")
        self.conf_leak_end = dict(self.spark.conf.getAll) != self.conf0
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        self.peak_rss_mb = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
        self.storage_amp = (sum(dir_files(self.root).values())
                            / self.w.user_bytes())
        self.live_files = self.w.live_files() if self.args.trace else {}
        self.spark.stop()

    # -- reporting ---------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        kinds = [k for k in dict.fromkeys(self.w.cycle()) if self.lat[k]]
        return {
            "setup_s": self.setup_s,
            # closed loop with no think time: the benchmark's own input
            # generation and output checks are not in the denominator
            "ops_per_s": (sum(len(v) for v in self.lat.values())
                          / sum(sum(v) for v in self.lat.values())),
            # geometric mean over operation types of each type's median
            "op_p50_ms": 1e3 * math.exp(mean(
                math.log(median(self.lat[k])) for k in kinds)),
            "storage_amplification": self.storage_amp,
        }

    def per_layer(self) -> dict[str, float]:
        jobs, stages = read_event_log(self.args.eventlog)
        traced = [o for o in self.ops if o["traced"]]
        by_kind = defaultdict(list)
        for o in traced:
            by_kind[o["kind"]].append(o)
        spans = defaultdict(list)
        for op, layer, a, b, depth in self.tracer.spans:
            spans[op].append((layer, a, b, depth))
        m: dict[str, float] = {}

        def span_ms(o, layer):
            return 1e3 * sum(b - a for lay, a, b, _d in spans[o["label"]]
                             if lay == layer)

        for kind in set(self.lat):
            os_ = by_kind[kind]
            m[f"api.p50_ms.{kind}"] = 1e3 * median(self.lat[kind])
            m[f"spark.jobs_per_op.{kind}"] = mean(
                len(jobs.get(o["label"], ())) for o in os_)
            m[f"spark.stages_per_op.{kind}"] = mean(
                stages[o["label"]][0] for o in os_)
            m[f"spark.tasks_per_op.{kind}"] = mean(
                stages[o["label"]][1] for o in os_)
            m[f"spark.job_s_per_op.{kind}"] = mean(
                union_s(jobs.get(o["label"], ())) for o in os_)
            m[f"driver.gap_s_per_op.{kind}"] = mean(
                o["wall"] - union_s(jobs.get(o["label"], ())) for o in os_)
            if kind in READS:
                m[f"query.build_ms.{kind}"] = mean(
                    span_ms(o, "api.query_build") for o in os_)
                m[f"query.exec_ms.{kind}"] = mean(
                    span_ms(o, "api.query_exec") for o in os_)
            m[f"commit_store.swaps_per_op.{kind}"] = mean(
                sum(s[0] == "commit_store.swap" for s in spans[o["label"]])
                for o in os_)
        for layer, name in (("commit_store.swap", "commit_store.swap_ms"),
                            ("commit_store.guard_wait",
                             "commit_store.guard_wait_ms")):
            m[name] = 1e3 * mean(b - a for _op, lay, a, b, _d
                                 in self.tracer.spans if lay == layer)
        for table in self.w.tables:
            m[f"catalog.files_written.{table}"] = mean(
                o["files"][table] for o in traced)
            m[f"catalog.bytes_written.{table}"] = mean(
                o["bytes"][table] for o in traced)
            m[f"catalog.live_files.{table}"] = self.live_files[table]

        def per(counter, kinds, base):
            ops = [o for o in traced if o["kind"] in kinds]
            n = sum(base(o) for o in ops)
            return sum(o["counts"].get(counter, 0) for o in ops) / n if n \
                else 0.0

        inserts = ("insert",)
        m["udf.calls_per_new_row"] = per("udf_calls", inserts,
                                         lambda o: o["new_rows"])
        # documents are only inserted by the set-up's bulk load
        m["embed.calls_per_new_row"] = getattr(self.w, "embeds_per_row", 0.0)
        m["embed.calls_per_search"] = per("embed_calls", ("search",),
                                          lambda o: 1)
        m["index.search_build_ms"] = mean(
            span_ms(o, "index.search_build") for o in by_kind["search"])
        m["index.search_exec_ms"] = mean(
            span_ms(o, "index.search_exec") for o in by_kind["search"])
        m["session.conf_leaks"] = (sum(o["conf_leak"] for o in traced)
                                   + self.conf_leak_end)
        m["spark.unlabelled_jobs"] = sum(
            len(v) for g, v in jobs.items()
            if not (g or "").startswith(f"{LABEL}:"))
        selfs = defaultdict(float)
        for o in traced:
            ivs = list(spans[o["label"]])
            ivs += [("spark.jobs", a, b, 99) for a, b in
                    jobs.get(o["label"], ())]
            for layer, s in self_times(ivs).items():
                selfs[layer] += s
        for layer, s in selfs.items():
            m[f"self_ms_per_op.{layer}"] = 1e3 * s / max(1, len(traced))
        diffs = []
        for kind in set(self.lat):
            on = [o["wall"] for o in self.ops if o["kind"] == kind
                  and o["traced"]]
            off = [o["wall"] for o in self.ops if o["kind"] == kind
                   and not o["traced"]]
            if on and off:
                diffs.append(median(on) - median(off))
        m["trace.overhead_ms_per_op"] = 1e3 * mean(diffs)
        m["memory.peak_rss_mb"] = self.peak_rss_mb
        m["setup.session_s"] = self.session_s
        m["setup.build_s"] = median(self.builds)
        return m

    def report(self) -> int:
        for kind, xs in self.lat.items():
            print(f"{self.args.workload} {kind}: {tail_summary(xs)}")
        print(f"setup: session {self.session_s:.2f}s, builds "
              + ", ".join(f"{b:.2f}s" for b in self.builds)
              + f", warm-up {self.warm_s:.2f}s; settling "
              f"{self.w.SETTLE_CYCLES} cycles {self.settle_s:.2f}s")
        print(f"failed_op_ratio: {self.failed}/{self.attempted}")
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        got = self.per_layer() if self.args.trace else self.end_to_end()
        metrics = {}
        for m in spec["per_layer" if self.args.trace else "end_to_end"]:
            # a per-operation or per-table metric of another workload
            metrics[m["name"]] = {"value": got.pop(m["name"], 0.0),
                                  "unit": m["unit"]}
        if got:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: "
                               f"{sorted(got)}")
        print(json.dumps({"correct": self.failed == 0,
                          "attempted": self.attempted,
                          "failed": self.failed, "metrics": metrics}))
        return 0 if self.failed == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--eventlog")
    run = Run(ap.parse_args())
    t = [time.perf_counter()]
    phases = (run.start, run.setup, run.settle, run.loop, run.finish)
    for phase in phases:
        phase()
        t.append(time.perf_counter())
    print("phases: " + ", ".join(f"{p.__name__} {b - a:.1f}s"
                                 for p, a, b in zip(phases, t, t[1:])))
    return run.report()


if __name__ == "__main__":
    sys.exit(main())
