"""ETL property tests (SURVEY.md §5.3) and batch≡stream equivalence (§5.4)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from near_real_time_data_warehouse_spark import etl
from near_real_time_data_warehouse_spark.streaming.pipeline import run_streaming_etl

from .fixtures import write_fixture_csvs


@pytest.fixture(scope="module")
def paths(tmp_path_factory):
    base = tmp_path_factory.mktemp("etl_fixture")
    return write_fixture_csvs(base)


@pytest.fixture(scope="module")
def star(spark, paths, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    return etl.run_batch_etl(
        spark,
        str(paths["transactions"]),
        str(paths["customer"]),
        str(paths["product"]),
        wh,
    )


def test_fk_integrity(star):
    """Every fact row must join all three dims (starSchema.sql:43-45)."""
    fact = star["salefact"]
    for dim, key in (
        ("customer_dim", "customer_id"),
        ("product_dim", "product_id"),
        ("time_dim", "date_id"),
    ):
        if dim == "product_dim":
            # product leg is LEFT: unknown products keep the fact row
            continue
        orphans = fact.join(star[dim], key, "left_anti").count()
        assert orphans == 0, f"{orphans} fact rows orphaned on {dim}"


def test_eviction_inner_join_semantics(spark, star, paths):
    """Facts = stream rows with known Customer_ID (J1, hybrid_join.py:229-231)."""
    txns = etl.read_transactions(spark, str(paths["transactions"]))
    cust = etl.read_customer_master(spark, str(paths["customer"]))
    expected = txns.join(
        cust.select(F.col("customer_id").alias("Customer_ID")), "Customer_ID", "inner"
    ).count()
    assert star["salefact"].count() == expected


def test_purchase_amount_derivation(star):
    """purchase_amount == round(quantity * master price, 2)
    (hybrid_join.py:451-453); null price (unknown product) → null amount."""
    f = star["salefact"].join(star["product_dim"], "product_id", "left")
    bad = f.filter(
        F.col("price").isNotNull()
        & (F.col("purchase_amount") != F.round(F.col("quantity") * F.col("price"), 2))
    ).count()
    assert bad == 0
    missing_price_nonnull = f.filter(
        F.col("price").isNull() & F.col("purchase_amount").isNotNull()
    ).count()
    assert missing_price_nonnull == 0


def test_time_dim_unique_and_derived(star):
    """time_dim unique on full_date (hybrid_join.py:381-388) with the
    reference's derivations (:429-444)."""
    td = star["time_dim"]
    assert td.count() == td.select("full_date").distinct().count()
    assert td.count() == td.select("date_id").distinct().count()
    bad_season = td.filter(
        ~(
            (F.month("full_date").isin(12, 1, 2) & (F.col("season") == "Winter"))
            | (F.month("full_date").isin(3, 4, 5) & (F.col("season") == "Spring"))
            | (F.month("full_date").isin(6, 7, 8) & (F.col("season") == "Summer"))
            | (F.month("full_date").isin(9, 10, 11) & (F.col("season") == "Autumn"))
        )
    ).count()
    assert bad_season == 0
    bad_dow = td.filter(F.col("day_of_week") != F.date_format("full_date", "EEEE")).count()
    assert bad_dow == 0


def test_age_lower_bound(star):
    """Age buckets stored as int lower bound ('55+'→55, hybrid_join.py:402)."""
    ages = {r.age for r in star["customer_dim"].select("age").distinct().collect()}
    assert ages <= {0, 18, 26, 36, 46, 51, 55}


def test_dim_upsert_idempotent_under_replay(spark, star, paths, tmp_path_factory):
    """Replaying the same batch must not duplicate dimension rows (S5
    first-writer-wins, hybrid_join.py:365-378)."""
    wh = str(tmp_path_factory.mktemp("warehouse_replay"))
    for _ in range(2):
        etl.run_batch_etl(
            spark,
            str(paths["transactions"]),
            str(paths["customer"]),
            str(paths["product"]),
            wh,
        )
    replayed = etl.read_star(spark, wh)
    for dim, key in (
        ("customer_dim", "customer_id"),
        ("product_dim", "product_id"),
        ("time_dim", "date_id"),
    ):
        total = replayed[dim].count()
        distinct = replayed[dim].select(key).distinct().count()
        assert total == distinct, f"{dim}: {total} rows, {distinct} keys after replay"
    # facts are append-only: replay doubles them (at-least-once without
    # checkpoint; the streaming path's checkpoint prevents this)
    assert replayed["salefact"].count() == 2 * star["salefact"].count()


def test_stream_equals_batch(spark, star, paths, tmp_path_factory):
    """Structured Streaming (availableNow) produces the same star schema
    as the batch path (SURVEY.md §5.4)."""
    wh = str(tmp_path_factory.mktemp("warehouse_stream"))
    ckpt = str(tmp_path_factory.mktemp("checkpoint"))
    run_streaming_etl(
        spark,
        str(paths["transactions"]),
        str(paths["customer"]),
        str(paths["product"]),
        wh,
        ckpt,
    )
    streamed = etl.read_star(spark, wh)
    for name in etl.STAR_TABLES:
        b = {tuple(str(v) for v in r) for r in star[name].collect()}
        s = {tuple(str(v) for v in r) for r in streamed[name].collect()}
        assert b == s, f"{name}: batch and stream diverge"


def test_fact_year_partition_pruning(spark, paths, tmp_path_factory):
    """The year-partitioned fact layout must prune partitions at the scan
    for the reference's year-filtered query class (P3/P4)."""
    wh = str(tmp_path_factory.mktemp("warehouse_pruned"))
    etl.run_batch_etl(
        spark,
        str(paths["transactions"]),
        str(paths["customer"]),
        str(paths["product"]),
        wh,
    )
    fact = spark.read.parquet(f"{wh}/salefact")
    years = sorted(r.sale_year for r in fact.select("sale_year").distinct().collect())
    plan = (
        fact.filter(F.col("sale_year") == years[0])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "sale_year" in plan
    # the filter must NOT appear as a post-scan data filter on year
    assert "PartitionFilters: []" not in plan


def test_streaming_restart_exactly_once(spark, paths, tmp_path_factory):
    """T5: re-running the streaming ETL on the same checkpoint must not
    duplicate facts (crash-restart = rerun); new source files afterwards
    are picked up incrementally, exactly once."""
    import shutil

    base = tmp_path_factory.mktemp("restart")
    txn_dir = base / "txns"
    txn_dir.mkdir()
    src = Path(paths["transactions"]) / "transactions.csv"
    lines = src.read_text().splitlines()
    header, rows = lines[0], lines[1:]
    half = len(rows) // 2
    (txn_dir / "t1.csv").write_text("\n".join([header] + rows[:half]) + "\n")

    wh = str(base / "wh")
    ckpt = str(base / "ckpt")
    args = (str(txn_dir), str(paths["customer"]), str(paths["product"]), wh, ckpt)

    run_streaming_etl(spark, *args)
    n1 = spark.read.parquet(f"{wh}/salefact").count()

    # restart with no new data: nothing reprocessed
    run_streaming_etl(spark, *args)
    assert spark.read.parquet(f"{wh}/salefact").count() == n1

    # add the second half: only the delta is appended
    (txn_dir / "t2.csv").write_text("\n".join([header] + rows[half:]) + "\n")
    run_streaming_etl(spark, *args)
    n3 = spark.read.parquet(f"{wh}/salefact").count()
    run_streaming_etl(spark, *args)  # idempotent again
    assert spark.read.parquet(f"{wh}/salefact").count() == n3
    assert n3 > n1


def test_fact_epoch_replay_idempotent(spark, paths, tmp_path_factory):
    """A replayed micro-batch (same epoch_id — foreachBatch's crash-replay
    contract) must rewrite its fact directory, not duplicate rows; a new
    epoch_id appends."""
    wh = str(tmp_path_factory.mktemp("warehouse_epoch"))
    cust = etl.read_customer_master(spark, str(paths["customer"]))
    prod = etl.read_product_master(spark, str(paths["product"]))
    txns = etl.read_transactions(spark, str(paths["transactions"]))
    enriched = etl.enrich(txns, cust, prod)

    etl.load_star_batch(spark, enriched, cust, prod, wh, epoch_id=0)
    n1 = spark.read.parquet(f"{wh}/salefact").count()
    etl.load_star_batch(spark, enriched, cust, prod, wh, epoch_id=0)  # replay
    assert spark.read.parquet(f"{wh}/salefact").count() == n1
    etl.load_star_batch(spark, enriched, cust, prod, wh, epoch_id=1)  # next batch
    assert spark.read.parquet(f"{wh}/salefact").count() == 2 * n1
    # read_star hides the idempotence partition from the star schema
    assert "epoch" not in etl.read_star(spark, wh)["salefact"].columns


def test_sql_text_runs_over_warehouse_views(spark, star):
    """EVERY spark.sql query text must run against views registered from
    the LOADED warehouse (read_star) — reference-style STRING ids
    ('P00000010'), the sale_year partition column, the reference timeline
    (latest year 2020). Year constants are rewritten to the fixture
    timeline as demo.py does, so the queries actually see rows: a query
    that only "passes" on an empty input hides type errors (regression:
    q17's integer -1 sentinel ANSI-cast-failed on string product ids,
    invisible while the year filter matched nothing)."""
    from near_real_time_data_warehouse_spark.plans import analysis

    analysis.register_views(star)
    nonempty = 0
    for name in analysis.QUERIES:
        sql = analysis.spark_sql_text(name)
        if sql is None:
            continue
        sql = sql.replace(f"= {analysis.CURRENT_YEAR}", "= 2020").replace(
            analysis.CURRENT_DATE, "2020-12-31"
        )
        rows = spark.sql(sql).collect()  # must analyze and execute cleanly
        nonempty += bool(rows)
    assert nonempty >= 15  # the fixture timeline feeds rows to most queries


def test_streaming_eviction_metric_equals_anti_join(
    spark, star, paths, tmp_path_factory
):
    """The per-batch eviction ledger (reference prints these counts,
    hybrid_join.py:208,236,354): total evicted across micro-batches must
    equal the batch anti-join cardinality, total loaded must equal the
    fact count, and the metered star must equal the default-path star."""
    from near_real_time_data_warehouse_spark.streaming.monitor import (
        EvictionLedger,
    )

    wh = str(tmp_path_factory.mktemp("warehouse_metered"))
    ckpt = str(tmp_path_factory.mktemp("checkpoint_metered"))
    ledger = EvictionLedger()
    run_streaming_etl(
        spark,
        str(paths["transactions"]),
        str(paths["customer"]),
        str(paths["product"]),
        wh,
        ckpt,
        metrics=ledger,
    )
    txns = etl.read_transactions(spark, str(paths["transactions"]))
    cust = etl.read_customer_master(spark, str(paths["customer"]))
    expected_evicted = etl.orphan_transactions(txns, cust).count()
    assert expected_evicted > 0  # fixture genuinely evicts (~5% unknown)
    assert ledger.batches, "no micro-batch was recorded"
    assert ledger.total_evicted == expected_evicted
    streamed = etl.read_star(spark, wh)
    assert ledger.total_loaded == streamed["salefact"].count()
    for name in etl.STAR_TABLES:
        b = {tuple(str(v) for v in r) for r in star[name].collect()}
        s = {tuple(str(v) for v in r) for r in streamed[name].collect()}
        assert b == s, f"{name}: metered stream diverges from batch"


# --- concurrent star loader ------------------------------------------------

def _one_batch(spark, paths):
    cust = etl.read_customer_master(spark, str(paths["customer"]))
    prod = etl.read_product_master(spark, str(paths["product"]))
    txns = etl.read_transactions(spark, str(paths["transactions"]))
    return etl.enrich(txns, cust, prod), cust, prod


def _star_rows(spark, wh: str) -> dict[str, list[tuple]]:
    star = etl.read_star(spark, wh)
    return {
        name: sorted(tuple(str(v) for v in r) for r in star[name].collect())
        for name in etl.STAR_TABLES
    }


def _assert_dims_key_unique(spark, wh: str) -> None:
    star = etl.read_star(spark, wh)
    for dim, key in (
        ("customer_dim", "customer_id"),
        ("product_dim", "product_id"),
        ("time_dim", "date_id"),
    ):
        total = star[dim].count()
        keys = star[dim].select(key).distinct().count()
        assert total == keys, f"{dim}: {total} rows, {keys} keys"


def test_epoch_replay_into_file_uri_warehouse(spark, paths, tmp_path, monkeypatch):
    """A ``file://`` warehouse replays as idempotently as a plain path:
    the dim upserts must see their existing keys (a local-only existence
    check answers False for a URI and appends every key again), and no
    directory named after the scheme may appear in the working dir."""
    monkeypatch.chdir(tmp_path)
    enriched, cust, prod = _one_batch(spark, paths)
    wh = (tmp_path / "wh").as_uri()
    assert wh.startswith("file:///")

    etl.load_star_batch(spark, enriched, cust, prod, wh, epoch_id=0)
    first = _star_rows(spark, wh)
    etl.load_star_batch(spark, enriched, cust, prod, wh, epoch_id=0)  # replay

    assert _star_rows(spark, wh) == first
    _assert_dims_key_unique(spark, wh)
    assert not (tmp_path / "file:").exists()


def test_failed_write_raises_and_epoch_rerun_heals(spark, paths, tmp_path):
    """One of the four concurrent writes fails (a plain file sits where
    time_dim belongs): the load raises. Once the fault is gone, re-running
    the same epoch_id leaves a warehouse equal to a clean single load."""
    enriched, cust, prod = _one_batch(spark, paths)
    clean = str(tmp_path / "clean")
    etl.load_star_batch(spark, enriched, cust, prod, clean, epoch_id=0)

    wh = tmp_path / "faulty"
    wh.mkdir()
    blocker = wh / "time_dim"
    blocker.write_text("not a parquet table\n")
    with pytest.raises(Exception):
        etl.load_star_batch(spark, enriched, cust, prod, str(wh), epoch_id=0)
    # the other writes ran to completion before the failure surfaced
    assert (wh / "salefact" / "epoch=0").is_dir()

    blocker.unlink()
    etl.load_star_batch(spark, enriched, cust, prod, str(wh), epoch_id=0)
    assert _star_rows(spark, str(wh)) == _star_rows(spark, clean)
    _assert_dims_key_unique(spark, str(wh))


def test_load_jobs_run_in_the_callers_job_group(spark, paths, tmp_path):
    """Every job of a load carries the caller's job group, as it must
    inside foreachBatch for ``query.stop()`` to cancel in-flight writes."""
    enriched, cust, prod = _one_batch(spark, paths)
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def drain_listener_bus() -> None:
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001

    group = "nrtdw-test-load-star-batch"
    drain_listener_bus()
    ungrouped_before = set(tracker.getJobIdsForGroup())
    sc.setJobGroup(group, "load_star_batch under a job group")
    try:
        etl.load_star_batch(spark, enriched, cust, prod, str(tmp_path / "wh"), epoch_id=0)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    drain_listener_bus()

    assert len(tracker.getJobIdsForGroup(group)) >= 4  # one per write at least
    assert set(tracker.getJobIdsForGroup()) - ungrouped_before == set()
