"""The shared concurrency helper: thunks run on pool threads, yet with
the caller's Spark local properties, and a failure surfaces only after
every thunk has finished."""

from __future__ import annotations

import threading
import time

import pytest

from near_real_time_data_warehouse_spark.parallel import run_concurrent


def test_thunks_see_the_callers_local_properties(spark):
    sc = spark.sparkContext
    key = "nrtdw.test.caller_property"
    seen: dict[int, tuple[int, str | None]] = {}

    def probe(i: int):
        return lambda: seen.__setitem__(
            i, (threading.get_ident(), sc.getLocalProperty(key))
        )

    sc.setLocalProperty(key, "set-by-caller")
    try:
        run_concurrent(spark, *[probe(i) for i in range(3)])
    finally:
        sc.setLocalProperty(key, None)

    assert sorted(seen) == [0, 1, 2]
    assert {v for _, v in seen.values()} == {"set-by-caller"}
    # the thunks really ran off the caller's thread
    assert threading.get_ident() not in {t for t, _ in seen.values()}


def test_failure_is_raised_after_every_thunk_finished(spark):
    done: list[str] = []

    def boom() -> None:
        raise ValueError("boom")

    def slow() -> None:
        time.sleep(0.3)
        done.append("slow")

    with pytest.raises(ValueError, match="boom"):
        run_concurrent(spark, boom, slow)
    assert done == ["slow"]
