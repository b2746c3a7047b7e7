"""Seeded input generation.

Everything a workload feeds the engine comes from here, derived from the
``--seed`` argument alone: TPC-H-shaped ``orders`` and ``lineitem``
tables and a word-bag ``documents`` corpus. The engine sees only the
generated rows, keys and query texts.

Every float is a dyadic rational small enough that sums over the whole
table are exact in double precision, so results can be compared for
equality with a Python replay or DuckDB instead of by tolerance.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

STATUSES = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
FLAGS = ("A", "N", "R")
WORDS = ("batch", "part", "spark", "line", "column", "order", "small",
         "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
         "filter", "query", "big", "key", "window", "row", "table",
         "stream", "merge", "data", "vector", "join", "customer", "index",
         "chunk", "view", "rollup", "commit", "manifest", "shuffle",
         "stage", "task", "driver", "version", "snapshot")
EPOCH = dt.datetime(1992, 1, 1)
N_DAYS = 2400


def orders(rng: np.random.Generator, n: int, first_key: int = 0
           ) -> pd.DataFrame:
    """``n`` orders with sparse, increasing keys (about one in four key
    values is used, as in TPC-H, so a random key usually misses)."""
    keys = first_key + np.cumsum(rng.integers(1, 8, n))
    return pd.DataFrame({
        "o_orderkey": keys.astype("int64"),
        "o_custkey": rng.integers(1, 15_000, n).astype("int64"),
        "o_orderstatus": rng.choice(STATUSES, n),
        "o_totalprice": rng.integers(400, 2_000_000, n) / 4.0,
        "o_orderdate": EPOCH + pd.to_timedelta(
            rng.integers(0, N_DAYS, n), unit="D"),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def lineitem(rng: np.random.Generator, order_keys: np.ndarray,
             n: int) -> pd.DataFrame:
    """``n`` line items spread over ``order_keys`` (1-7 lines per order,
    truncated to ``n``)."""
    per = rng.integers(1, 8, len(order_keys))
    okeys = np.repeat(order_keys, per)[:n]
    per_pos = np.concatenate([np.arange(1, p + 1) for p in per])[:n]
    return pd.DataFrame({
        "l_orderkey": okeys.astype("int64"),
        "l_partkey": rng.integers(1, 20_000, len(okeys)).astype("int64"),
        "l_linenumber": per_pos.astype("int32"),
        "l_quantity": rng.integers(1, 51, len(okeys)).astype("float64"),
        "l_extendedprice": rng.integers(400, 400_000, len(okeys)) / 4.0,
        "l_discount": rng.integers(0, 9, len(okeys)) / 64.0,
        "l_returnflag": rng.choice(FLAGS, len(okeys)),
        "l_shipdate": EPOCH + pd.to_timedelta(
            rng.integers(0, N_DAYS, len(okeys)), unit="D"),
    })


def text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(rng.choice(WORDS, n_words))


def documents(rng: np.random.Generator, n: int) -> list[dict]:
    """``n`` documents of 8-90 words; the leading id token makes every
    text distinct, so a document's own text has one exact match."""
    return [{"doc_id": i,
             "text": f"doc{i} " + text(rng, int(rng.integers(8, 90)))}
            for i in range(n)]
