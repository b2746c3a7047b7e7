"""The closed-loop workloads (one client each).

A workload builds its tables (``build``, repeated to time set-up), runs
its warm-up operations, then hands the driver one cycle of operations at
a time until the run's seconds are spent.

An operation draws its inputs, calls the engine inside ``timed`` (only
that call is the operation's latency), and returns a check that the
driver runs afterwards, untimed. ``verify`` checks the final state once
the loop ends. Expected results come from a model kept in plain Python
(ingest_views), or from DuckDB over the same parquet inputs and a numpy
brute force over the stored embeddings (analytic_reads).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import math
import os
import time
from typing import Callable

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import pixeltable_spark as pxt
from pixeltable_spark import functions as pxtf
from pixeltable_spark.iterators import DocumentSplitter

import gen
import udfs
from spans import Tracer

Check = Callable[[], bool]


class Workload:
    name = ""
    #: operation types, in the order a cycle first runs them
    ops: tuple = ()
    #: catalog tables whose storage is traced
    tables: tuple = ()
    #: write-clustering unit of every table and view, sized to the data
    #: (the engine's default of 16 is meant for far larger tables)
    N_BUCKETS = 4
    #: whole cycles run untimed between the warm-up and the timed loop
    SETTLE_CYCLES = 0

    def __init__(self, spark, seed: int, tracer: Tracer, inputs: str):
        self.spark = spark
        self.rng = np.random.default_rng(seed)
        self.tr = tracer
        self.inputs = inputs
        self.cat = None
        self.new_rows = 0
        #: seconds of the last ``timed`` call
        self.elapsed: float | None = None

    def cycle(self) -> list[str]:
        return list(self.ops)

    def warmup(self) -> list[str]:
        """Operations run after set-up and left out of the timings: the
        first of each type."""
        return list(dict.fromkeys(self.cycle()))

    @contextlib.contextmanager
    def timed(self, layer: str):
        """The engine call of an operation: its latency, and the root span
        of its trace."""
        t0 = time.perf_counter()
        with self.tr.span(layer):
            yield
        self.elapsed = time.perf_counter() - t0

    def query(self, make: Callable) -> list:
        """Build the query from the table handles and its DataFrame, then
        run it; both timed as spans."""
        with self.timed("api.read"):
            with self.tr.span("api.query_build"):
                df = make().df()
            with self.tr.span("api.query_exec"):
                return df.collect()

    def table_paths(self) -> dict[str, str]:
        return {n: self.cat.get_table(n).path for n in self.tables}

    def live_files(self) -> dict[str, int]:
        return {n: self.cat.get_table(n).stats()["n_files"]
                for n in self.tables}


# ---------------------------------------------------------------------------
# ingest_views
# ---------------------------------------------------------------------------

class IngestViews(Workload):
    """Mutations on a table with a native and a Python computed column,
    a filtered view with an extra column and a per-status rollup."""

    name = "ingest_views"
    ops = ("insert", "update", "delete")
    tables = ("orders", "big_orders", "orders_by_status")
    N0 = 10_000
    BATCH = 200
    RANGE = N0 // 100     # keys per range update: about 1% of the table
    N_DELETE = 3
    THRESHOLD = 250_000.0
    COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]

    def __init__(self, *a):
        super().__init__(*a)
        self.udf_calls = self.spark.sparkContext.accumulator(0)
        self.price_tag = udfs.counted(self.udf_calls, udfs.half)
        self.base = gen.orders(self.rng, self.N0)[self.COLS]
        self.n_updates = 0

    def build(self, root: str, commit_store) -> None:
        cat = pxt.Catalog(self.spark, root, commit_store=commit_store)
        t = cat.create_table("orders", {
            "o_orderkey": pxt.Int(False), "o_custkey": pxt.Int(False),
            "o_orderstatus": pxt.String(False),
            "o_totalprice": pxt.Float(False)}, primary_key=["o_orderkey"],
            n_buckets=self.N_BUCKETS)
        t.add_computed_column("price_x2", t.o_totalprice * 2.0)
        t.add_computed_column(
            "price_tag", t.o_totalprice.apply(self.price_tag, pxt.Float()))
        cat.create_view("big_orders", t,
                        predicate=t.o_totalprice >= self.THRESHOLD,
                        extra_columns={"price_x3": (t.o_totalprice * 3.0,
                                                    pxt.Float())},
                        n_buckets=self.N_BUCKETS)
        cat.create_rollup("orders_by_status", t, ["o_orderstatus"], {
            "n": ("count", None), "revenue": ("sum", "o_totalprice"),
            "top": ("max", "o_totalprice")}, n_buckets=self.N_BUCKETS)
        t.insert(self.spark.createDataFrame(self.base))
        self.cat, self.t = cat, t
        self.model = {int(r.o_orderkey): (int(r.o_custkey), r.o_orderstatus,
                                          float(r.o_totalprice))
                      for r in self.base.itertuples()}
        #: live keys, ascending: updates and deletes draw only from these
        self.keys = sorted(self.model)

    def cycle(self) -> list[str]:
        # the two updates are one point update and one range update
        return ["insert", "update", "update", "delete"]

    def warmup(self) -> list[str]:
        # one whole cycle, so both forms of update are warmed
        return self.cycle()

    def op_insert(self) -> Check:
        recs = gen.orders(self.rng, self.BATCH, first_key=self.keys[-1])[
            self.COLS].to_dict("records")
        with self.timed("api.mutation"):
            n = self.t.insert(recs)
        for r in recs:
            k = int(r["o_orderkey"])
            self.model[k] = (int(r["o_custkey"]), r["o_orderstatus"],
                             float(r["o_totalprice"]))
            self.keys.append(k)
        self.new_rows += len(recs)
        return lambda: int(n) == len(recs)

    def op_update(self) -> Check:
        """Alternates a point update of one live key with a range update
        of about 1% of the keys that also moves rows between rollup
        groups and into or out of the view."""
        self.n_updates += 1
        price = float(self.rng.integers(400, 2_000_000)) / 4.0
        key = self.t.o_orderkey
        if self.n_updates % 2:
            k = self.keys[int(self.rng.integers(len(self.keys)))]
            with self.timed("api.mutation"):
                n = self.t.update({"o_totalprice": price}, where=key == k)
            self.model[k] = self.model[k][:2] + (price,)
            return lambda: int(n) == 1
        i = int(self.rng.integers(len(self.keys) - self.RANGE))
        lo, hi = self.keys[i], self.keys[i + self.RANGE - 1]
        status = str(self.rng.choice(gen.STATUSES))
        with self.timed("api.mutation"):
            n = self.t.update({"o_orderstatus": status, "o_totalprice": price},
                              where=(key >= lo) & (key <= hi))
        for k in self.keys[i:i + self.RANGE]:
            self.model[k] = (self.model[k][0], status, price)
        return lambda: int(n) == self.RANGE

    def op_delete(self) -> Check:
        idx = sorted(self.rng.choice(len(self.keys), self.N_DELETE,
                                     replace=False), reverse=True)
        ks = [self.keys[int(i)] for i in idx]
        key = self.t.o_orderkey
        with self.timed("api.mutation"):
            n = self.t.delete(where=key.isin(ks))
        for i, k in zip(idx, ks):
            del self.keys[int(i)]
            del self.model[k]
        return lambda: int(n) == len(ks)

    def verify(self) -> list[tuple[str, bool]]:
        """Table, view and rollup equal a replay of the operations on the
        model (every value is exact in double precision)."""
        rows = self.t.user_df().select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "price_x2", "price_tag").collect()
        got = {r[0]: tuple(r[1:]) for r in rows}
        want = {k: (c, s, p, p * 2.0, p * 0.5)
                for k, (c, s, p) in self.model.items()}
        view = {r[0]: r[1] for r in self.cat.get_table("big_orders").df()
                .select("o_orderkey", "price_x3").collect()}
        want_view = {k: p * 3.0 for k, (_c, _s, p) in self.model.items()
                     if p >= self.THRESHOLD}
        roll = {r[0]: (r[1], r[2], r[3]) for r in
                self.cat.get_table("orders_by_status").df()
                .select("o_orderstatus", "n", "revenue", "top").collect()}
        want_roll: dict = {}
        for _c, s, p in self.model.values():
            n, rev, top = want_roll.get(s, (0, 0.0, float("-inf")))
            want_roll[s] = (n + 1, rev + p, max(top, p))
        return [("table", got == want), ("view", view == want_view),
                ("rollup", roll == want_roll)]

    def user_bytes(self) -> int:
        # two int64s, one double and a one-letter status per live row
        return len(self.model) * 25


# ---------------------------------------------------------------------------
# analytic_reads
# ---------------------------------------------------------------------------

#: parquet column type -> catalog column type (non-nullable)
_PXT_TYPES = {"int64": pxt.Int(False), "int32": pxt.Int(False),
              "double": pxt.Float(False), "string": pxt.String(False),
              "timestamp[us]": pxt.Timestamp(False)}


class AnalyticReads(Workload):
    """Read-only loop over bulk-loaded lineitem and orders, and over a
    document table with a chunk view and an embedding index. Set-up
    updates orders once, so version 1 is history, read by the time-travel
    op."""

    name = "analytic_reads"
    ops = ("lookup", "aggregate", "join", "udf_select", "timetravel",
           "search", "count")
    tables = ("lineitem", "orders", "docs", "chunks")
    N_ORDERS = 30_000
    N_LINEITEM = 100_000
    UDF_RANGE = 2_000
    N_DOCS = 1_000
    K = 5
    CHUNK = 16   # token limit of a chunk
    #: with the JIT's default thresholds read latencies kept falling for
    #: 5-10 cycles after set-up, and timing inside that slope made
    #: op_p50_ms spread 20% between runs; with the lowered thresholds
    #: run.py sets, latencies are flat after the warm-up but one cycle
    #: is left to settle
    SETTLE_CYCLES = 1

    def __init__(self, *a):
        super().__init__(*a)
        sc = self.spark.sparkContext
        self.udf_calls = sc.accumulator(0)
        self.half_price = udfs.counted(self.udf_calls, udfs.half)
        self.embed_calls = sc.accumulator(0)
        self.embed = udfs.counted(self.embed_calls, udfs.embed)
        self.docs = gen.documents(self.rng, self.N_DOCS)
        self.searches: list[tuple] = []   # (query vector, [(id, sim)])
        o = gen.orders(self.rng, self.N_ORDERS)
        li = gen.lineitem(self.rng, o.o_orderkey.to_numpy(), self.N_LINEITEM)
        self.order_keys = o.o_orderkey.to_numpy()
        self.paths = {}
        for name, df in (("orders", o), ("lineitem", li)):
            path = os.path.join(self.inputs, f"{name}.parquet")
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                           path, coerce_timestamps="us")
            self.paths[name] = path
        # the set-up mutation, applied identically to the engine and DuckDB
        third = len(self.order_keys) // 3
        self.changed = (int(self.order_keys[third]),
                        int(self.order_keys[third + 3000]))
        self.db = duckdb.connect()
        for name, path in self.paths.items():
            self.db.execute(f"CREATE VIEW {name}_v1 AS "
                            f"SELECT * FROM read_parquet('{path}')")
            self.db.execute(f"CREATE TABLE {name} AS SELECT * FROM {name}_v1")
        self.db.execute("UPDATE orders SET o_orderstatus = 'F' "
                        "WHERE o_orderkey BETWEEN ? AND ?", self.changed)

    def build(self, root: str, commit_store) -> None:
        cat = pxt.Catalog(self.spark, root, commit_store=commit_store)
        self.t = {}
        for name in ("orders", "lineitem"):
            schema = pq.read_schema(self.paths[name])
            t = cat.create_table(name, {
                c: _PXT_TYPES[str(ty)]
                for c, ty in zip(schema.names, schema.types)},
                n_buckets=self.N_BUCKETS)
            t.insert(self.paths[name])
            self.t[name] = t
        o = self.t["orders"]
        lo, hi = self.changed
        o.update({"o_orderstatus": "F"},
                 where=(o.o_orderkey >= lo) & (o.o_orderkey <= hi))
        docs = cat.create_table("docs", {"doc_id": pxt.Int(False),
                                         "text": pxt.String(False)},
                                primary_key=["doc_id"],
                                n_buckets=self.N_BUCKETS)
        cat.create_view("chunks", docs, iterator=DocumentSplitter.create(
            document="text", separators="token_limit", limit=self.CHUNK),
            n_buckets=self.N_BUCKETS)
        self.idx = docs.add_embedding_index("text", embedding=self.embed)
        calls = self.embed_calls.value
        docs.insert(self.docs)
        #: embedding calls per document of the bulk load
        self.embeds_per_row = (self.embed_calls.value - calls) / len(self.docs)
        self.t["docs"] = docs
        self.cat = cat

    def _same(self, rows, sql: str, params) -> Check:
        return lambda: (sorted(tuple(r) for r in rows)
                        == sorted(self.db.execute(sql, params).fetchall()))

    def op_lookup(self) -> Check:
        k = int(self.order_keys[int(self.rng.integers(len(self.order_keys)))])
        li = self.t["lineitem"]
        rows = self.query(lambda: li.where(li.l_orderkey == k).select(
            li.l_linenumber, li.l_quantity, li.l_extendedprice))
        return self._same(
            rows, "SELECT l_linenumber, l_quantity, l_extendedprice "
                  "FROM lineitem WHERE l_orderkey = ?", [k])

    def op_aggregate(self) -> Check:
        cut = gen.EPOCH + dt.timedelta(
            days=int(self.rng.integers(200, gen.N_DAYS)))
        li = self.t["lineitem"]
        rows = self.query(lambda: li.where(li.l_shipdate <= cut)
                          .group_by(li.l_returnflag)
                          .select(li.l_returnflag,
                                  n=pxtf.count(li.l_orderkey),
                                  qty=pxtf.sum(li.l_quantity),
                                  rev=pxtf.sum(li.l_extendedprice
                                               * (1.0 - li.l_discount))))
        return self._same(
            rows, "SELECT l_returnflag, count(l_orderkey), sum(l_quantity), "
                  "sum(l_extendedprice * (1.0 - l_discount)) FROM lineitem "
                  "WHERE l_shipdate <= ? GROUP BY l_returnflag", [cut])

    def op_join(self) -> Check:
        a = gen.EPOCH + dt.timedelta(
            days=int(self.rng.integers(0, gen.N_DAYS - 90)))
        b = a + dt.timedelta(days=90)

        def make():
            li, o = self.t["lineitem"].ref(), self.t["orders"].ref()
            return (li.join(o, on=li.l_orderkey == o.o_orderkey)
                    .where((o.o_orderdate >= a) & (o.o_orderdate < b))
                    .group_by(o.o_orderpriority)
                    .select(o.o_orderpriority, n=pxtf.count(li.l_orderkey),
                            rev=pxtf.sum(li.l_extendedprice
                                         * (1.0 - li.l_discount))))
        rows = self.query(make)
        return self._same(
            rows, "SELECT o_orderpriority, count(l_orderkey), "
                  "sum(l_extendedprice * (1.0 - l_discount)) "
                  "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
                  "WHERE o_orderdate >= ? AND o_orderdate < ? "
                  "GROUP BY o_orderpriority", [a, b])

    def op_udf_select(self) -> Check:
        i = int(self.rng.integers(len(self.order_keys) - self.UDF_RANGE))
        lo, hi = (int(self.order_keys[i]),
                  int(self.order_keys[i + self.UDF_RANGE - 1]))
        o = self.t["orders"]
        rows = self.query(lambda: o.where(
            (o.o_orderkey >= lo) & (o.o_orderkey <= hi)).select(
            o.o_orderkey, half=o.o_totalprice.apply(self.half_price,
                                                    pxt.Float())))
        return self._same(
            rows, "SELECT o_orderkey, o_totalprice * 0.5 FROM orders "
                  "WHERE o_orderkey BETWEEN ? AND ?", [lo, hi])

    def op_timetravel(self) -> Check:
        status = str(self.rng.choice(gen.STATUSES))

        def make():
            o = self.t["orders"].ref(version=1)
            return (o.where(o.o_orderstatus == status)
                    .group_by(o.o_orderpriority)
                    .select(o.o_orderpriority, n=pxtf.count(o.o_orderkey),
                            total=pxtf.sum(o.o_totalprice)))
        rows = self.query(make)
        return self._same(
            rows, "SELECT o_orderpriority, count(o_orderkey), "
                  "sum(o_totalprice) FROM orders_v1 WHERE o_orderstatus = ? "
                  "GROUP BY o_orderpriority", [status])

    def op_search(self) -> Check:
        """Every other search is for a document's own text, which must
        rank that document first; the rest are word bags. The top-k is
        checked against a brute force in ``verify``."""
        own = None
        if len(self.searches) % 2 == 0:
            own = int(self.rng.integers(len(self.docs)))
            text = self.docs[own]["text"]
        else:
            text = gen.text(self.rng, int(self.rng.integers(3, 30)))
        with self.timed("api.read"):
            with self.tr.span("embed.query"):
                vec = self.embed(text)
            with self.tr.span("index.search_build"):
                df = self.idx.search(vec, k=self.K)
            with self.tr.span("index.search_exec"):
                rows = df.select("doc_id", "_similarity").collect()
        got = [(r[0], r[1]) for r in rows]
        self.searches.append((vec, got))
        return lambda: len(got) == self.K and (
            own is None or (got[0][0] == own and got[0][1] > 0.999999))

    def op_count(self) -> Check:
        chunks = self.cat.get_table("chunks")
        with self.timed("api.read"), self.tr.span("api.query_exec"):
            n = chunks.count()
        # token_limit chunking of single-space-separated words
        return lambda: n == sum(
            math.ceil(len(d["text"].split()) / self.CHUNK) for d in self.docs)

    def verify(self) -> list[tuple[str, bool]]:
        checks = []
        for name in ("orders", "lineitem"):
            want = self.db.execute(f"SELECT count(*) FROM {name}").fetchone()
            checks.append((f"{name}.rows", self.t[name].count() == want[0]))
        return checks + [("search_topk", self._check_searches())]

    def _check_searches(self) -> bool:
        """Every search's top-k equals a numpy brute force over the
        vectors read back from the table."""
        rows = sorted(self.t["docs"].user_df()
                      .select("doc_id", "text_embedding").collect())
        if [r[0] for r in rows] != list(range(len(self.docs))):
            return False
        vecs = np.array([r[1] for r in rows], dtype=np.float64)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        ids = np.arange(len(rows))
        for q, got in self.searches:
            q = np.asarray(q, dtype=np.float64)
            # topk_cosine's ranking: similarity rounded to 6 places, then id
            sims = np.round(vecs @ (q / np.linalg.norm(q)), 6)
            want = sims[np.lexsort((ids, -sims))[:self.K]]
            # ids may differ only between equally similar documents
            if len(got) != len(want) or not all(
                    abs(g_sim - w) <= 2e-6 and abs(sims[g_id] - g_sim) <= 2e-6
                    for (g_id, g_sim), w in zip(got, want)):
                return False
        return True

    def user_bytes(self) -> int:
        """8 bytes per number or timestamp, and the string lengths."""
        total = sum(8 + len(d["text"].encode()) for d in self.docs)
        for name in ("orders", "lineitem"):
            cols = self.db.execute(f"DESCRIBE {name}").fetchall()
            terms = [f"strlen({c})" if ty == "VARCHAR" else "8"
                     for c, ty, *_ in cols]
            total += self.db.execute(
                f"SELECT sum({' + '.join(terms)}) FROM {name}").fetchone()[0]
        return int(total)


WORKLOADS = {w.name: w for w in (IngestViews, AnalyticReads)}
