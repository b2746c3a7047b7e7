"""The benchmark's own Python functions that run inside Spark's Python
workers. Kept free of heavy imports: every worker imports this module."""

from __future__ import annotations


def counted(acc, fn):
    """``fn`` adding 1 to the Spark accumulator ``acc`` per call. The
    closure is pickled by value, so the accumulator travels with it."""
    def call(x):
        acc.add(1)
        return fn(x)
    return call


def half(p: float) -> float:
    return p * 0.5


def embed(text: str) -> list:
    """The engine's offline default embedder (the one
    ``add_embedding_index`` uses when given no function)."""
    import asyncio

    from pixeltable_spark.functions.llm import DeterministicFakeClient
    loop = asyncio.new_event_loop()
    try:
        return loop.run_until_complete(
            DeterministicFakeClient().embed(text, "fake-embed-1", dim=16))
    finally:
        loop.close()
