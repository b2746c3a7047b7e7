"""Focused battery for the tiny-plan execution scope
(pixeltable_spark/tinyplan.py) and its three application sites:
connected_components' star rounds, train_kn_bigram's post-vocab
section, and the mutation commit path (catalog._locked_mutation).

Pins: (1) session confs are restored after each scope, including on
error and under nesting; (2) the scoped sections produce identical
results to the session-default plans; (3) the mutation scope pins the
shuffle width to the mutated table's n_buckets while active; (4) one
scope is shared by every thread: no mutation runs outside it and the
last leaver restores the confs; (5) the enclosing span records what
the scope did."""

from __future__ import annotations

import inspect
import sys
import threading

import pytest
from pyspark.sql import functions as F

import pixeltable_spark as pxt
import pixeltable_spark.catalog as catmod
from pixeltable_spark import telemetry, tinyplan
from pixeltable_spark.exprs import ColumnRef
from pixeltable_spark.tinyplan import materialized_width, tiny_plan

AQE = "spark.sql.adaptive.enabled"
SHUF = "spark.sql.shuffle.partitions"


@pytest.fixture(scope="module")
def spark():
    return pxt.get_session(shuffle_partitions=8)


def test_tiny_plan_sets_and_restores(spark):
    aqe0, shuf0 = spark.conf.get(AQE), spark.conf.get(SHUF)
    with tiny_plan(spark, 3):
        assert spark.conf.get(AQE) == "false"
        assert spark.conf.get(SHUF) == "3"
        # a shuffle inside the scope lands on the pinned width
        n = (spark.range(100).groupBy((F.col("id") % 7).alias("k"))
             .count().rdd.getNumPartitions())
        assert n == 3
    assert spark.conf.get(AQE) == aqe0
    assert spark.conf.get(SHUF) == shuf0


def test_tiny_plan_restores_on_error(spark):
    aqe0, shuf0 = spark.conf.get(AQE), spark.conf.get(SHUF)
    with pytest.raises(RuntimeError):
        with tiny_plan(spark, 2):
            raise RuntimeError("boom")
    assert spark.conf.get(AQE) == aqe0
    assert spark.conf.get(SHUF) == shuf0


def test_tiny_plan_nested_keeps_outermost(spark):
    with tiny_plan(spark, 5):
        with tiny_plan(spark, 1):   # inner scope must NOT override
            assert spark.conf.get(SHUF) == "5"
        assert spark.conf.get(SHUF) == "5"
        assert spark.conf.get(AQE) == "false"


def test_tiny_plan_width_floor(spark):
    with tiny_plan(spark, 0):       # degenerate width clamps to 1
        assert spark.conf.get(SHUF) == "1"


def test_materialized_width_is_checkpoint_width(spark):
    df = spark.range(1000).repartition(4).localCheckpoint(eager=True)
    assert materialized_width(df) == 4


def _union_find_components(edges) -> set[tuple[int, int]]:
    """Closed-form connected components on the driver: (id, min id)."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


_CC_EDGES = ([(i, i + 1) for i in range(0, 40, 2)]           # 20 chains
             + [(1, 3), (3, 5), (100, 101), (101, 102)])     # merges


def test_connected_components_matches_default_mode(spark):
    """The star loop's tiny-plan result must equal the same loop run
    with plain session confs (partitioning cannot change results)."""
    from pixeltable_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(_CC_EDGES, "id_a long, id_b long")
    got = {(r["id"], r["component"])
           for r in connected_components(pairs).collect()}
    assert got == _union_find_components(_CC_EDGES)
    # and the session is back to defaults afterwards
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(SHUF) == "8"


def test_kn_trainer_restores_confs(spark):
    from pixeltable_spark.operators.ngram_lm import train_kn_bigram

    docs = spark.createDataFrame(
        [(i, "a b c a b " + ("x y " * (i % 3))) for i in range(30)],
        "doc_id long, text string")
    model = train_kn_bigram(docs, vocab_size=10, discount=0.75)
    assert model.vocab.count() > 0
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(SHUF) == "8"


def _spy_mutations(monkeypatch, spark, names, seen):
    """Replace Table mutations with locked bodies that first append the
    (AQE, shuffle width) in effect inside the mutation scope."""
    for name in names:
        body = inspect.unwrap(getattr(catmod.Table, name))

        def spy(self, *a, _body=body, **kw):
            seen.append((spark.conf.get(AQE), spark.conf.get(SHUF)))
            return _body(self, *a, **kw)
        monkeypatch.setattr(catmod.Table, name, catmod._locked_mutation(spy))


def test_mutation_scope_uses_n_buckets_and_restores(spark, tmp_path,
                                                    monkeypatch):
    cat = pxt.Catalog(spark, str(tmp_path))
    t = cat.create_table("t", {"k": pxt.Int(False),
                               "v": pxt.Float(True)}, n_buckets=3)
    seen = []
    _spy_mutations(monkeypatch, spark, ["insert"], seen)
    t.insert([{"k": i, "v": float(i)} for i in range(10)])
    assert seen == [("false", "3")]     # the table's n_buckets
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(SHUF) == "8"
    assert t.df().count() == 10


def test_insert_span_records_scope(spark, tmp_path):
    """The table.insert span says which width the commit ran at and
    whether its scope was its own or one it joined."""
    cat = pxt.Catalog(spark, str(tmp_path))
    t = cat.create_table("t", {"k": pxt.Int(False),
                               "v": pxt.Float(True)}, n_buckets=3)
    cat.create_view("v", t, n_buckets=7)   # nested maintenance scope
    sub = telemetry.CollectingSubscriber()
    key = telemetry.subscribe(sub)
    try:
        t.insert([{"k": 1, "v": 1.0}])
        with tiny_plan(spark, 5):
            t.insert([{"k": 2, "v": 2.0}])
    finally:
        telemetry.unsubscribe(key)
    spans = [s.attrs for s in sub.spans if s.name == "table.insert"]
    assert [(a["tiny_plan_width"], a["tiny_plan_owner"]) for a in spans] \
        == [(3, True), (5, False)]


def test_threads_share_one_scope(spark, tmp_path, monkeypatch):
    """Stream ingest (foreachBatch thread), two writers on tables with
    different n_buckets and a connected-components run, all at once:
    every mutation body runs inside the scope, the CC result is exact,
    and the confs and the scope count are back to idle afterwards."""
    from pyspark.sql import types as T

    from pixeltable_spark.operators.dedup import connected_components

    aqe0, shuf0 = spark.conf.get(AQE), spark.conf.get(SHUF)
    src = str(tmp_path / "src")
    n_files = 4
    for lo in range(0, 10 * n_files, 10):
        (spark.range(lo, lo + 10)
         .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
         .coalesce(1).write.mode("append").parquet(src))
    schema = {"k": pxt.Int(False), "v": pxt.Float(True)}
    streamed = pxt.Catalog(spark, str(tmp_path / "s")).create_table(
        "s", schema, n_buckets=2)

    seen: list[tuple[str, str]] = []
    _spy_mutations(monkeypatch, spark, ["insert", "update", "delete"], seen)
    errors: list[BaseException] = []
    cc: dict = {}
    rounds = 5

    def writer(nb):
        t = pxt.Catalog(spark, str(tmp_path / f"w{nb}")).create_table(
            "w", schema, n_buckets=nb)
        k = ColumnRef("k", t.schema["k"])
        for r in range(rounds):
            t.insert([{"k": r * 10 + i, "v": 0.0} for i in range(10)])
            t.update({"v": 1.0}, where=k == r * 10)
            t.delete(where=k == r * 10 + 1)
        assert t.count() == 9 * rounds

    def components():
        pairs = spark.createDataFrame(_CC_EDGES, "id_a long, id_b long")
        cc["got"] = {(r["id"], r["component"])
                     for r in connected_components(pairs).collect()}

    def guarded(fn, *a):
        try:
            fn(*a)
        except BaseException as e:  # noqa: BLE001 — re-raised on join
            errors.append(e)

    stream = (spark.readStream.schema(T.StructType(
        [T.StructField("k", T.LongType(), False),
         T.StructField("v", T.DoubleType(), True)]))
        .option("maxFilesPerTrigger", 1).parquet(src))
    threads = [threading.Thread(target=guarded, args=(writer, 3)),
               threading.Thread(target=guarded, args=(writer, 5)),
               threading.Thread(target=guarded, args=(components,))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        query = streamed.insert_stream(stream, str(tmp_path / "ckpt"))
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
        query.awaitTermination(300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert not query.isActive
    if errors:
        raise errors[0]
    assert streamed.count() == 10 * n_files
    assert len(seen) >= n_files + 2 * 3 * rounds
    assert {aqe for aqe, _ in seen} == {"false"}, seen
    assert cc["got"] == _union_find_components(_CC_EDGES)
    assert (spark.conf.get(AQE), spark.conf.get(SHUF)) == (aqe0, shuf0)
    assert tinyplan.active_count() == 0
