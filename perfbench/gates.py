"""Correctness gates. Each returns a list of problems; an empty list passes."""

from __future__ import annotations

import decimal

from gen import Tally, TxnFile


def ingest_problems(spark, warehouse: str, tally: Tally, input_rows: int) -> list[str]:
    """The loaded star must match the generator's own tally: fact count
    and Σ purchase_amount, null amounts for unknown products, key-unique
    dimensions holding exactly the tallied keys, and evicted rows (input
    rows the stream read minus facts loaded) equal to the generator's
    unknown-customer rows."""
    from pyspark.sql import functions as F

    from near_real_time_data_warehouse_spark import etl

    star = etl.read_star(spark, warehouse)
    n, amount, priced = star["salefact"].agg(
        F.count(F.lit(1)), F.sum("purchase_amount"), F.count("purchase_amount")
    ).first()
    amount = amount if amount is not None else decimal.Decimal("0.00")
    problems = []
    if n != tally.loaded:
        problems.append(f"fact rows {n} != tally {tally.loaded}")
    if amount != tally.amount:
        problems.append(f"sum(purchase_amount) {amount} != tally {tally.amount}")
    if n - priced != tally.null_amounts:
        problems.append(f"null amounts {n - priced} != tally {tally.null_amounts}")
    if input_rows - n != tally.evicted:
        problems.append(f"evicted {input_rows - n} != tally {tally.evicted}")
    expect = {
        "customer_dim": ("customer_id", tally.customers),
        "product_dim": ("product_id", tally.products),
        "time_dim": ("full_date", tally.dates),
    }
    for table, (key, want) in expect.items():
        keys = [r[0] for r in star[table].select(key).collect()]
        if table == "time_dim":
            keys = [k.isoformat() for k in keys]
        if len(keys) != len(set(keys)):
            problems.append(f"{table}: {len(keys) - len(set(keys))} duplicate keys")
        if set(keys) != want:
            problems.append(f"{table}: {len(set(keys) ^ want)} keys differ from the tally")
    return problems


def file_epochs(spark, warehouse: str, files: list[TxnFile]) -> tuple[dict[str, int], list[str]]:
    """Map each transaction file to the micro-batch that loaded it, via
    the ``salefact/epoch=<batchId>`` partition holding its order ids."""
    from pyspark.sql import functions as F

    ranges = (
        spark.read.parquet(f"{warehouse}/salefact")
        .groupBy("epoch")
        .agg(F.min("order_id"), F.max("order_id"))
        .collect()
    )
    out, problems = {}, []
    for f in files:
        hits = [e for e, lo, hi in ranges if lo <= f.last_order and hi >= f.first_order]
        if len(hits) == 1:
            out[f.path] = hits[0]
        else:
            problems.append(f"{f.path}: order ids found in epochs {hits}")
    return out, problems

