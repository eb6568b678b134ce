"""Concurrent submission of independent Spark actions.

One helper, shared by the star loader (etl.load_star_batch) and the
streaming folds' per-epoch state writes: independent writes over inputs
that are already cached or checkpointed are submitted at once, so one
write's task tail back-fills with the next write's stages instead of
each write paying its own planning and stage-wave latency in sequence.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def run_concurrent(spark: SparkSession, *thunks) -> None:
    """Run ``thunks`` (zero-argument callables that each issue Spark
    actions) concurrently and return when all are done; the first
    failure, in argument order, is re-raised after every thunk has
    finished, so no write is still in flight when the caller sees it.

    Each thunk runs with the caller's Spark local properties (job group,
    job description, scheduler pool, SQL execution id) and ``spark``'s
    job tags, copied when it is submitted — one copy per thunk, since
    Spark mutates a thread's properties while it runs a query. Plain
    pool threads start with none, which would drop a streaming query's
    job group inside ``foreachBatch``: ``query.stop()`` could not cancel
    the writes, and the UI could not attribute them."""
    if len(thunks) == 1:
        thunks[0]()
        return
    with ThreadPoolExecutor(len(thunks)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t)) for t in thunks]
        for f in futures:
            f.result()
