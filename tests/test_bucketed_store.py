"""Bucketed store layout: `_bkt = (_rowid // bucket_chunk) % n_buckets`
partition dirs are the write-clustering unit; mutations are FILE-granular
(the plain-parquet analog of Delta MERGE's file-level rewrite; the
reference gets row-level mutation from Postgres, store.py:27-58). At
100 TB this bounds update/delete cost by matched files, not table size.
Tables here use bucket_chunk=4 so a 64-row table still exercises every
bucket (the deployment default keeps ~1k-row runs per file)."""

from __future__ import annotations

import os

import pytest

import pixeltable_spark as pxt
from pixeltable_spark.exprs import ColumnRef


@pytest.fixture()
def cat(spark, tmp_path):
    return pxt.Catalog(spark, str(tmp_path / "warehouse"))


def _bucket_state(data_dir: str) -> dict[str, set[str]]:
    """Map bucket dir -> its set of parquet file names."""
    out = {}
    for d in os.listdir(data_dir):
        if d.startswith("_bkt="):
            sub = os.path.join(data_dir, d)
            out[d] = {f for f in os.listdir(sub) if f.endswith(".parquet")}
    return out


def _rows(t) -> dict:
    return {r["k"]: r["v"] for r in t.collect()}


def _make_table(cat, n=64):
    t = cat.create_table("bt", {"k": pxt.Int(False), "v": pxt.Int()},
                         primary_key=["k"], bucket_chunk=4)
    t.insert([{"k": i, "v": i * 10} for i in range(n)])
    return t


class TestBucketedLayout:
    def test_insert_writes_bucket_partitions(self, cat):
        t = _make_table(cat)
        state = _bucket_state(t._data_dir)
        assert state, "expected _bkt=N partition dirs"
        assert len(state) == t.n_buckets

    def test_update_rewrites_only_affected_buckets(self, cat):
        t = _make_table(cat)
        before = _bucket_state(t._data_dir)
        k = ColumnRef("k", t.schema["k"])
        n = t.update({"v": 999}, where=k == 5)
        assert n == 1
        after = _bucket_state(t._data_dir)
        changed = [b for b in before if before[b] != after.get(b)]
        assert len(changed) == 1, f"expected 1 bucket rewritten, got {changed}"
        rows = _rows(t)
        assert rows[5] == 999 and rows[6] == 60 and len(rows) == 64

    def test_delete_rewrites_only_affected_buckets(self, cat):
        t = _make_table(cat)
        before = _bucket_state(t._data_dir)
        k = ColumnRef("k", t.schema["k"])
        # rowids follow insert order, so k // 4 == 3 is exactly one
        # bucket (chunk=4: bucket = (rowid // 4) % 16)
        n = t.delete(where=(k // 4) == 3)
        assert n == 4
        after = _bucket_state(t._data_dir)
        changed = [b for b in before if before[b] != after.get(b)]
        assert len(changed) == 1
        assert t.count() == 60

    def test_noop_update_rewrites_nothing(self, cat):
        t = _make_table(cat)
        before = _bucket_state(t._data_dir)
        k = ColumnRef("k", t.schema["k"])
        assert t.update({"v": 0}, where=k == 10_000) == 0
        assert _bucket_state(t._data_dir) == before

    def test_revert_after_update_restores(self, cat):
        t = _make_table(cat)
        k = ColumnRef("k", t.schema["k"])
        v0 = t.version
        t.update({"v": -1}, where=k < 8)
        assert {r["v"] for r in t.collect() if r["k"] < 8} == {-1}
        t.revert()
        assert t.version == v0
        rows = _rows(t)
        assert rows[0] == 0 and rows[7] == 70 and len(rows) == 64

    def test_time_travel_across_bucket_mutations(self, cat):
        t = _make_table(cat, n=8)
        k = ColumnRef("k", t.schema["k"])
        v0 = t.version
        t.update({"v": 111}, where=k == 1)
        t.delete(where=k == 2)
        old = {r["k"]: r["v"]
               for r in t.user_df(version=v0).collect()}
        assert old[1] == 10 and 2 in old and len(old) == 8
        new = _rows(t)
        assert new[1] == 111 and 2 not in new and len(new) == 7

    def test_batch_update_single_pass_bucketed(self, cat):
        t = _make_table(cat)
        before = _bucket_state(t._data_dir)
        n = t.batch_update([{"k": 12, "v": -1}, {"k": 14, "v": -2}])
        assert n == 2
        after = _bucket_state(t._data_dir)
        changed = [b for b in before if before[b] != after.get(b)]
        assert len(changed) == 1  # 12 and 14 share rowid chunk 3
        rows = _rows(t)
        assert rows[12] == -1 and rows[14] == -2

    def test_view_update_then_insert_propagates(self, cat):
        """Regression: _apply_base_update used to leave the view storage
        bucket-partitioned while _load_increment appended flat files at the
        dir root, which Spark partition discovery silently ignores — rows
        inserted after any base update vanished from the view."""
        # no primary_key: the test updates k in place, which a declared
        # PK now (correctly) refuses — the point here is bucket layout
        t = cat.create_table("vb", {"k": pxt.Int(False)})
        t.insert([{"k": i} for i in range(6)])
        v = cat.create_view("vbv", t)
        assert v.count() == 6
        k = ColumnRef("k", t.schema["k"])
        t.update({"k": 100}, where=k == 0)
        assert v.count() == 6
        t.insert([{"k": i} for i in range(10, 20)])
        rows = {r["k"] for r in v.collect()}
        assert len(rows) == 16 and 10 in rows and 19 in rows and 100 in rows
        # and another update after the insert still propagates
        t.update({"k": 200}, where=k == 10)
        rows = {r["k"] for r in v.collect()}
        assert 200 in rows and 10 not in rows and len(rows) == 16

    def test_view_update_rewrites_only_affected_buckets(self, cat):
        t = _make_table(cat)  # 64 rows, 16 buckets
        v = cat.create_view("btv", t)
        before = _bucket_state(v._data_dir)
        assert before, "view storage must be bucket-partitioned"
        k = ColumnRef("k", t.schema["k"])
        t.update({"v": -5}, where=k == 9)
        after = _bucket_state(v._data_dir)
        changed = [b for b in before if before[b] != after.get(b)]
        assert len(changed) == 1, f"expected 1 view bucket rewritten, got {changed}"
        rows = {r["k"]: r["v"] for r in v.collect()}
        assert rows[9] == -5 and rows[8] == 80 and len(rows) == 64

    def test_n_buckets_persisted(self, cat):
        t = _make_table(cat, n=4)
        cat._tables.pop("bt")
        t2 = cat.get_table("bt")
        assert t2.n_buckets == t.n_buckets
        assert t2.bucket_chunk == 4  # chunk persists across reloads
        t2.insert([{"k": 100, "v": 1}])
        assert t2.count() == 5


class TestBucketCountValidation:
    @pytest.mark.parametrize("n", [0, -2])
    @pytest.mark.parametrize("kind", ["table", "view", "rollup"])
    def test_rejects_non_positive_n_buckets(self, cat, kind, n):
        """0 would divide by zero in the first insert's bucketed write
        and a negative count would silently pin the commit width to 1,
        so every create path rejects them before creating anything."""
        base = cat.create_table("base", {"k": pxt.Int(False),
                                         "v": pxt.Int()})
        create = {
            "table": lambda: cat.create_table(
                "bad", {"k": pxt.Int(False)}, n_buckets=n),
            "view": lambda: cat.create_view("bad", base, n_buckets=n),
            "rollup": lambda: cat.create_rollup(
                "bad", base, ["k"], {"n": ("count", None)}, n_buckets=n),
        }[kind]
        with pytest.raises(ValueError, match="n_buckets"):
            create()
        assert "bad" not in cat.list_tables()
