"""The workloads. Each drives the engine only through its public
functions, returns what it measured and what its correctness gate found,
and leaves timing of the session start to the caller."""

from __future__ import annotations

import os
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import gates
import gen
from probes import Tracer, summary

# Workload sizes. Chosen so one run (set-up + timed window + gates) stays
# within about 55 s on a 4-core host at a 5 s window.
TRICKLE_ROWS, TRICKLE_INTERVAL_S = 500, 0.3      # reference partition size
# A fixed trigger period, longer than one call, keeps every batch at
# about period / interval files. Back-to-back calls instead let a slow
# call grow the next batch, which slows that call in turn, and the
# freshness of one seed swung by a quarter against another.
TRIGGER_PERIOD_S = 5.0
# Files land for at least this many trigger periods, so every run times
# two calls.
TRICKLE_MIN_CALLS = 2
# Warm-up calls carry batches of about the size the timed calls see.
WARMUP_CALLS, WARMUP_FILES_PER_CALL = 2, 16
OLAP_EPOCHS, OLAP_ROWS = 3, 4_000
# A registry corpus fold, played on a generated corpus. Warm calls cost
# the same at 200 and 600 documents on a 4-core host: the fixed per-call
# floor, which is what the entry is measured for. stream_dedup_pairs
# would add about 10 s of cold call and 5-7 s a warm call to every run,
# more than the run budget leaves.
FOLD_ENTRY, FOLD_DOCS = "stream_containment_links", 300
# A warm call takes 4-5 s: two calls go into every run's median.
FOLD_MIN_CALLS = 2


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    cores: int
    tracer: Tracer
    listener: object


@dataclass
class Outcome:
    latencies: list[float] = field(default_factory=list)   # seconds per operation
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    setup_end: float = 0.0           # time.perf_counter() when set-up finished
    timed_start: float = 0.0         # time.time() when the timed window opened
    op_span: str = ""                # span name of one timed operation
    detail: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)   # set-up phase → seconds
    _mark: float = field(default_factory=time.perf_counter)

    def phase(self, name: str) -> None:
        """Close the current set-up phase under ``name``."""
        now = time.perf_counter()
        self.phases[name] = now - self._mark
        self._mark = now


def wrap_load_star_batch(ctx: Ctx):
    """Trace ``load_star_batch`` at the ``streaming.pipeline`` attribute
    the foreachBatch sink resolves at call time. Returns an undo."""
    from near_real_time_data_warehouse_spark.streaming import pipeline

    orig = pipeline.load_star_batch
    tracer = ctx.tracer

    def traced(spark, enriched, customer_dim, product_dim, warehouse_dir, epoch_id=None):
        t0 = time.perf_counter()
        before = _tree(warehouse_dir)
        idx = tracer.open("etl.load_star_batch", key=f"epoch={epoch_id}", parent=tracer.current)
        tracer.self_seconds += time.perf_counter() - t0
        try:
            orig(spark, enriched, customer_dim, product_dim, warehouse_dir, epoch_id=epoch_id)
        finally:
            tracer.close(idx)
            t1 = time.perf_counter()
            after = _tree(warehouse_dir)
            tracer.spans[idx].attrs.update(
                files_written=after[0] - before[0], bytes_written=after[1] - before[1]
            )
            tracer.self_seconds += time.perf_counter() - t1

    pipeline.load_star_batch = traced
    return lambda: setattr(pipeline, "load_star_batch", orig)


def _tree(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker files."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


def _etl_call(ctx: Ctx, src: str, masters: gen.Masters, wh: str, ckpt: str,
              max_files: int | None, key: str) -> tuple[float, float]:
    """One ``run_streaming_etl`` call; returns its (start, end) epoch s."""
    from near_real_time_data_warehouse_spark.streaming import pipeline

    idx = ctx.tracer.open("streaming.pipeline.run_streaming_etl", key=key) \
        if ctx.tracer.enabled else None
    ctx.tracer.current = idx
    start = time.time()
    try:
        pipeline.run_streaming_etl(
            ctx.spark, src, masters.customer_path, masters.product_path, wh, ckpt,
            max_files_per_trigger=max_files,
        )
    finally:
        end = time.time()
        if idx is not None:
            ctx.tracer.close(idx)
        ctx.tracer.current = None
    return start, end


def _query_runs(listener, first: int, n: int) -> list[list[dict]]:
    """Progress of the data batches of queries started ``first`` ..
    ``first + n - 1`` (in start order), one list per query run."""
    listener.wait_terminated(first + n)
    runs = listener.started[first:first + n]
    return [
        sorted((b for b in listener.batches if b["run_id"] == rid and b["rows"] > 0),
               key=lambda b: b["batch_id"])
        for _qid, rid, _t in runs
    ]


def _stream_detail(ctx: Ctx, runs: list[list[dict]], calls: list[tuple[float, float]],
                   loaded: int, generated: int) -> dict:
    """streaming.pipeline.* and etl.* figures for the traced side file."""
    batches = [b for r in runs for b in r]
    d = {
        "streaming.pipeline.call_s": summary([e - s for s, e in calls]),
        "streaming.pipeline.query_start_s": summary(
            [r[0]["start"] - s for r, (s, _e) in zip(runs, calls) if r]
        ),
        "streaming.pipeline.batches_per_call": len(batches) / max(1, len(calls)),
        "streaming.pipeline.rows_per_batch": summary([b["rows"] for b in batches]),
        "etl.enrich.match_ratio": loaded / generated if generated else None,
    }
    for phase in ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                  "commitOffsets", "latestOffset", "getBatch"):
        name = "trigger_ms" if phase == "triggerExecution" else f"{phase}_ms"
        d[f"streaming.pipeline.{name}"] = summary([b["ms"].get(phase, 0) for b in batches])
    loads = [s for s in ctx.tracer.named("etl.load_star_batch") if s.start >= calls[0][0]]
    if loads:
        d["etl.load_star_batch.ms"] = summary([1000 * s.seconds for s in loads])
        add_ms = sum(b["ms"].get("addBatch", 0) for b in batches)
        d["etl.load_star_batch.share_of_addBatch"] = (
            1000 * sum(s.seconds for s in loads) / add_ms if add_ms else None
        )
        d["etl.load_star_batch.files_written_per_batch"] = summary(
            [s.attrs.get("files_written", 0) for s in loads])
        d["etl.load_star_batch.bytes_written_per_batch"] = summary(
            [s.attrs.get("bytes_written", 0) for s in loads])
    return d


# --- ingest_trickle -----------------------------------------------------------

class _LoadGen(threading.Thread):
    """Open-loop generator: renames pre-written files into the source
    directory at fixed due times, recording when each actually landed."""

    def __init__(self, files: list[gen.TxnFile], src: str, t0: float, interval: float,
                 until: float) -> None:
        super().__init__(name="perfbench-loadgen", daemon=True)
        self.files, self.src, self.t0, self.interval, self.until = files, src, t0, interval, until
        self.placed: list[tuple[gen.TxnFile, float, float]] = []   # (file, due, landed)
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for i, f in enumerate(self.files):
                due = self.t0 + i * self.interval
                if due > self.until:
                    break
                time.sleep(max(0.0, due - time.time()))
                os.replace(f.path, os.path.join(self.src, os.path.basename(f.path)))
                self.placed.append((f, due, time.time()))
        except BaseException as e:  # noqa: BLE001 — re-raised by the caller
            self.error = e


def ingest_trickle(ctx: Ctx) -> Outcome:
    """Open loop: small files land on a fixed schedule while the
    benchmark calls ``run_streaming_etl`` (availableNow) every trigger
    period, or at once when the previous call overran its period, as a
    processing-time trigger does."""
    out = Outcome(op_span="streaming.pipeline.run_streaming_etl")
    masters = gen.write_masters(f"{ctx.work}/masters", ctx.seed)
    n_warm = WARMUP_CALLS * WARMUP_FILES_PER_CALL
    n_files = n_warm + int(max(ctx.seconds, TRICKLE_MIN_CALLS * TRIGGER_PERIOD_S)
                           / TRICKLE_INTERVAL_S) + 2
    staged = gen.write_backlog(f"{ctx.work}/staging", masters, ctx.seed, n_files, TRICKLE_ROWS)
    src, wh, ckpt = f"{ctx.work}/src", f"{ctx.work}/wh", f"{ctx.work}/ckpt"
    os.makedirs(src)
    warm, staged = staged[:n_warm], staged[n_warm:]
    out.phase("generate")
    for i in range(WARMUP_CALLS):                  # warm-up calls, not timed
        for f in warm[i * WARMUP_FILES_PER_CALL:(i + 1) * WARMUP_FILES_PER_CALL]:
            os.replace(f.path, f"{src}/{os.path.basename(f.path)}")
        _etl_call(ctx, src, masters, wh, ckpt, None, key=f"warmup{i}")
    out.phase("warmup")
    out.setup_end, out.timed_start = time.perf_counter(), time.time()

    t0 = time.time()
    window = max(ctx.seconds, TRICKLE_MIN_CALLS * TRIGGER_PERIOD_S)
    loadgen = _LoadGen(staged, src, t0, TRICKLE_INTERVAL_S, t0 + window)
    loadgen.start()
    calls, trigger_lag = [], []
    try:
        while True:
            # Half an interval off the landing schedule, so no file lands
            # at the instant a call lists the source directory.
            due = t0 + (len(calls) + 1) * TRIGGER_PERIOD_S + TRICKLE_INTERVAL_S / 2
            time.sleep(max(0.0, due - time.time()))
            trigger_lag.append(time.time() - due)
            last = loadgen.placed[-1][2] if loadgen.placed else None
            done = not loadgen.is_alive()
            out.attempted += 1
            try:
                calls.append(_etl_call(ctx, src, masters, wh, ckpt, None,
                                       key=f"call{len(calls)}"))
            except Exception as e:  # noqa: BLE001 — a failed call is counted, not fatal
                out.failed += 1
                out.problems.append(f"call failed: {e!r}"[:300])
                break
            # Stop once a call has started after the last file landed.
            if done and (last is None or calls[-1][0] >= last):
                break
    finally:
        loadgen.join(timeout=window + 30)
    if loadgen.is_alive() or loadgen.error is not None:
        raise RuntimeError(f"load generator did not finish cleanly: {loadgen.error!r}")

    runs = _query_runs(ctx.listener, WARMUP_CALLS, len(calls))
    batches = {b["batch_id"]: b for r in _query_runs(ctx.listener, 0, WARMUP_CALLS) + runs
               for b in r}
    files = warm + [f for f, _due, _landed in loadgen.placed]
    tally = gen.Tally()
    for f in files:
        tally.add(f.tally)
    out.problems += gates.ingest_problems(
        ctx.spark, wh, tally, sum(b["rows"] for b in batches.values()))
    epochs, probs = gates.file_epochs(ctx.spark, wh, files)
    out.problems += probs
    visible = {}                                   # file path → batch end
    for f, due, _landed in loadgen.placed:
        if f.path in epochs:
            visible[f.path] = batches[epochs[f.path]]["end"]
            out.latencies.append(visible[f.path] - due)
    # Freshness without the wait for the next trigger: per call, from its
    # start to the end of its last micro-batch.
    engine = [r[-1]["end"] - start for r, (start, _end) in zip(runs, calls) if r]
    # Backlog seen by the generator: files landed but not yet visible.
    backlog_max = max(
        (sum(1 for f, _d, landed in loadgen.placed
             if landed <= t < visible.get(f.path, float("inf")))
         for _f, _d, t in loadgen.placed),
        default=0,
    )
    # Processing rate while batches run (Structured Streaming's
    # processedRowsPerSecond over the whole window).
    timed = [b for r in runs for b in r]
    trigger_s = sum(b["ms"]["triggerExecution"] for b in timed) / 1000.0
    out.detail = {
        "files": len(loadgen.placed),
        "calls": len(calls),
        "freshness_s": summary(out.latencies),
        "engine_s": summary(engine),
        "processed_rows_per_s": sum(b["rows"] for b in timed) / trigger_s if trigger_s else None,
        "loadgen.lag_max_s": max((landed - due for _f, due, landed in loadgen.placed),
                                 default=0.0),
        "loadgen.backlog_max_files": backlog_max,
        "trigger.lag_max_s": max(trigger_lag, default=0.0),
    }
    if ctx.tracer.enabled:
        out.detail.update(_stream_detail(ctx, runs, calls, tally.loaded, tally.rows))
    return out


@dataclass
class _Collected:
    """Rows already collected from a DataFrame, in the shape the oracle
    harness's ``compare`` reads (``collect()`` and ``columns``)."""

    rows: list
    columns: list[str]

    def collect(self) -> list:
        return self.rows


# --- olap_warehouse -----------------------------------------------------------

def _timeline(sql: str) -> str:
    """Move a query's year constants to the generated timeline (as
    demo.py does for the reference timeline)."""
    from near_real_time_data_warehouse_spark.plans import analysis

    return sql.replace(f"= {analysis.CURRENT_YEAR}", f"= {gen.TIMELINE_YEAR}").replace(
        analysis.CURRENT_DATE, gen.TIMELINE_END)


def _register(ctx: Ctx, warehouse: str) -> None:
    from near_real_time_data_warehouse_spark import etl
    from near_real_time_data_warehouse_spark.plans import analysis

    idx = ctx.tracer.open("etl.read_star", key=warehouse) if ctx.tracer.enabled else None
    star = etl.read_star(ctx.spark, warehouse)
    if idx is not None:
        ctx.tracer.close(idx)
    analysis.register_views(star)


def _batch_reference(warehouse: str):
    """A DuckDB connection whose star views read a batch-built warehouse."""
    import duckdb

    con = duckdb.connect()
    for t in ("customer_dim", "product_dim", "time_dim"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{warehouse}/{t}/*.parquet')")
    con.execute(
        "CREATE VIEW salefact AS SELECT order_id, customer_id, product_id, date_id, quantity, "
        f"purchase_amount FROM read_parquet('{warehouse}/salefact/*/*.parquet')")
    return con


def olap_warehouse(ctx: Ctx) -> Outcome:
    """One client runs the analysis SQL texts in a closed loop over a
    stream-loaded warehouse."""
    import random

    from near_real_time_data_warehouse_spark import etl
    from near_real_time_data_warehouse_spark.oracle_harness import _rowset, compare
    from near_real_time_data_warehouse_spark.plans import analysis

    out = Outcome(op_span="plans.analysis.sql")
    masters = gen.write_masters(f"{ctx.work}/masters", ctx.seed)
    src = f"{ctx.work}/src"
    gen.write_backlog(src, masters, ctx.seed, OLAP_EPOCHS, OLAP_ROWS)
    wh, ref_wh = f"{ctx.work}/wh", f"{ctx.work}/wh_batch"
    texts = {n: _timeline(analysis.spark_sql_text(n)) for n in analysis.QUERIES
             if analysis.spark_sql_text(n) is not None}
    out.phase("generate")
    _etl_call(ctx, src, masters, wh, f"{ctx.work}/ckpt", 1, "load")   # one file per epoch
    _register(ctx, wh)
    out.phase("load")
    # Warm-up: run every query once, to compile it. On as many threads as
    # cores it takes about 10 s instead of 14 s on a 4-core host.
    with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
        list(pool.map(lambda sql: ctx.spark.sql(sql).collect(), texts.values()))
    out.phase("warmup")
    out.setup_end, out.timed_start = time.perf_counter(), time.time()

    rng = random.Random(f"olap:{ctx.seed}")
    first: dict[str, _Collected] = {}      # each query's first timed result
    changed: set[str] = set()              # queries whose repeat returned other rows
    per_query: dict[str, list[float]] = {n: [] for n in texts}
    deadline = time.time() + ctx.seconds
    passes = 0
    tracer = ctx.tracer
    while passes < 1 or time.time() < deadline:   # whole passes only
        order = list(texts)
        rng.shuffle(order)
        for name in order:
            out.attempted += 1
            idx = tracer.open("plans.analysis.sql", key=name) if tracer.enabled else None
            t0 = time.perf_counter()
            try:
                df = ctx.spark.sql(texts[name])
                if tracer.enabled:
                    df._jdf.queryExecution().executedPlan()  # noqa: SLF001 — planning
                    t_plan = time.perf_counter()
                rows = df.collect()
            except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
                out.failed += 1
                out.problems.append(f"{name} failed: {e!r}"[:300])
                if idx is not None:
                    tracer.close(idx)
                continue
            dt = time.perf_counter() - t0
            if idx is not None:
                tracer.close(idx)
                t1 = time.perf_counter()
                tracer.spans[idx].attrs.update(
                    plan_ms=1000 * (t_plan - t0), exec_ms=1000 * (t0 + dt - t_plan),
                    files_read=len(df.inputFiles()))
                tracer.self_seconds += time.perf_counter() - t1
            out.latencies.append(dt)
            per_query[name].append(dt)
            if name not in first:
                first[name] = _Collected(rows, df.columns)
            elif _rowset(df.columns, rows) != _rowset(first[name].columns, first[name].rows):
                changed.add(name)
        passes += 1
    # Batch≡stream, after the timed window: each query over the
    # stream-loaded warehouse must equal the same query body run by
    # DuckDB over a warehouse etl.run_batch_etl builds from the same files.
    etl.run_batch_etl(ctx.spark, src, masters.customer_path, masters.product_path, ref_wh)
    con = _batch_reference(ref_wh)
    try:
        for name, rows in first.items():
            res = compare(name, rows, con, _timeline(analysis.QUERIES[name].oracle))
            if not res.ok:
                out.problems.append(f"{name} stream vs batch: {res.problems[:2]}")
    finally:
        con.close()
    out.problems += [f"{n}: repeat differs from first run" for n in sorted(changed)]
    out.detail = {
        "passes": passes,
        "queries": len(texts),
        "query_s": summary(out.latencies),
        "queries_per_s": len(out.latencies) / sum(out.latencies) if out.latencies else None,
    }
    if tracer.enabled:
        n_files, n_bytes = _tree(wh)
        sql_spans = tracer.named("plans.analysis.sql")
        reads = tracer.named("etl.read_star")
        out.detail.update({
            "warehouse.files": n_files,
            "warehouse.bytes": n_bytes,
            "etl.read_star.ms": 1000 * reads[-1].seconds if reads else None,
            "plans.analysis.plan_ms": summary([s.attrs["plan_ms"] for s in sql_spans]),
            "plans.analysis.exec_ms": summary([s.attrs["exec_ms"] for s in sql_spans]),
            "plans.analysis.files_read": summary([s.attrs["files_read"] for s in sql_spans]),
        })
        out.detail.update({f"plans.analysis.{n}.s": statistics.median(v)
                           for n, v in per_query.items() if v})
    return out


# --- corpus_folds -------------------------------------------------------------

def _fold_call(ctx: Ctx, fn, corpus: str, name: str):
    """One fold entry call forced with the noop sink; returns (DataFrame,
    wall seconds). The DataFrame stays readable until the entry's next call."""
    idx = ctx.tracer.open(f"operators.fold.{name}", key=name) if ctx.tracer.enabled else None
    t0 = time.perf_counter()
    try:
        df = fn(ctx.spark, corpus)
        df.write.format("noop").mode("overwrite").save()
    finally:
        if idx is not None:
            ctx.tracer.close(idx)
    return df, time.perf_counter() - t0


def corpus_folds(ctx: Ctx) -> Outcome:
    """Closed loop over a registry streaming-fold entry on a generated
    corpus."""
    import duckdb

    from near_real_time_data_warehouse_spark import driver_api
    from near_real_time_data_warehouse_spark.oracle_harness import compare

    out = Outcome(op_span=f"operators.fold.{FOLD_ENTRY}")
    corpus = f"{ctx.work}/corpus"
    gen.write_documents(f"{corpus}/documents.parquet", ctx.seed, FOLD_DOCS)
    fold = driver_api.queries()[FOLD_ENTRY]
    out.phase("generate")
    _fold_call(ctx, fold, corpus, FOLD_ENTRY)      # the cold call, not timed
    out.phase("cold_call")
    out.setup_end, out.timed_start = time.perf_counter(), time.time()

    last = None                                    # the latest result
    deadline = time.time() + ctx.seconds
    while out.attempted < FOLD_MIN_CALLS or time.time() < deadline:
        out.attempted += 1
        try:
            last, dt = _fold_call(ctx, fold, corpus, FOLD_ENTRY)
        except Exception as e:  # noqa: BLE001 — a failed call is counted, not fatal
            out.failed += 1
            out.problems.append(f"{FOLD_ENTRY} failed: {e!r}"[:300])
            continue
        out.latencies.append(dt)
    # The last timed result must equal the entry's DuckDB oracle over the
    # same corpus.
    if last is not None:
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{corpus}/documents.parquet')")
            res = compare(FOLD_ENTRY, last, con, driver_api.oracle_sql()[FOLD_ENTRY])
            if not res.ok:
                out.problems.append(f"{FOLD_ENTRY} vs oracle: {res.problems[:2]}")
        finally:
            con.close()
    out.detail = {"documents": FOLD_DOCS,
                  f"operators.fold.{FOLD_ENTRY}.s": summary(out.latencies)}
    return out


WORKLOADS = {
    "corpus_folds": corpus_folds,
    "ingest_trickle": ingest_trickle,
    "olap_warehouse": olap_warehouse,
}

