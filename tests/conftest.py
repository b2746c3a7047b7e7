"""Shared fixtures: one SparkSession per test session; the reference's
canonical fixture tables re-created per FIXTURES.md (reference
tests/utils.py:241-300 create_test_tbl)."""

from __future__ import annotations

import datetime
import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pixeltable_spark as pxt  # noqa: E402
from pixeltable_spark import tinyplan  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"

# session confs the engine's execution scope sets; other confs are set
# and restored on purpose by some tests, so the guard watches only these
_SCOPED_CONFS = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")


def _session_state():
    """(session, its scoped conf values, active streaming query ids) of
    the running SparkSession, or None when none has started yet."""
    from pyspark.sql import SparkSession
    s = SparkSession.getActiveSession()
    if s is None:
        return None
    return (s, tuple(s.conf.get(k, None) for k in _SCOPED_CONFS),
            frozenset(q.id for q in s.streams.active))


@pytest.fixture(autouse=True)
def _leak_guard():
    """Fail the test that leaves a scoped conf changed, a streaming
    query running or the execution scope still entered."""
    before = _session_state()
    yield
    leaks = []
    entries = tinyplan.active_count()
    if entries:
        leaks.append(f"tiny_plan scope still entered ({entries} entries)")
    after = _session_state()
    if before is not None and after is not None and after[0] is before[0]:
        for key, old, new in zip(_SCOPED_CONFS, before[1], after[1]):
            if old != new:
                leaks.append(f"{key}: {old!r} -> {new!r}")
        if after[2] - before[2]:
            leaks.append(f"streaming queries left running: "
                         f"{sorted(after[2] - before[2])}")
    if leaks:
        pytest.fail("test leaked process-wide state: " + "; ".join(leaks))


@pytest.fixture(scope="session")
def spark():
    s = pxt.get_session(app_name="pxt_spark_tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def test_tbl(spark):
    """100-row workhorse table mirroring the reference fixture
    (FIXTURES.md §1): c1 str, c1n nullable str, c2 int pk, c3 float,
    c4 bool, c5 timestamp, c6/c7 json."""
    rows = []
    base = datetime.datetime(2024, 7, 1)
    for i in range(100):
        rows.append({
            "c1": f"test string {i}",
            "c1n": None if i % 10 == 0 else f"test string {i}",
            "c2": i,
            "c3": float(i),
            "c4": bool(i % 2),
            "c5": base + datetime.timedelta(hours=i),
            "c6": json.dumps({
                "f1": f"test string {i}", "f2": i, "f3": float(i),
                "f4": bool(i % 2), "f5": list(range(5 + i // 10)),
                "f6": {"f7": "test string 2", "f8": [1.0, 2.0, 3.0, 4.0]},
            }),
            "c7": json.dumps([{"f1": "a", "f2": 1}, {"f1": "b", "f2": 2}]),
        })
    schema = {
        "c1": pxt.String(False), "c1n": pxt.String(True), "c2": pxt.Int(False),
        "c3": pxt.Float(False), "c4": pxt.Bool(False),
        "c5": pxt.Timestamp(False), "c6": pxt.Json(False), "c7": pxt.Json(False),
    }
    return pxt.table_from_rows(spark, rows, "test_tbl", schema=schema,
                               rowid_cols=["c2"])


@pytest.fixture(scope="session")
def lineitem(spark):
    return pxt.table_from_parquet(spark, f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="session")
def orders(spark):
    return pxt.table_from_parquet(spark, f"{SF_DIR}/orders.parquet")


@pytest.fixture(scope="session")
def customer(spark):
    return pxt.table_from_parquet(spark, f"{SF_DIR}/customer.parquet")


@pytest.fixture(scope="session")
def documents_df(spark):
    return pxt.table_from_parquet(spark, f"{SF_DIR}/documents.parquet").df()


@pytest.fixture(scope="session")
def embeddings_df(spark):
    return pxt.table_from_parquet(spark, f"{SF_DIR}/embeddings.parquet").df()
