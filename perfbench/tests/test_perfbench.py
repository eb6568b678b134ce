"""The benchmark's own checks: deterministic inputs, the file → epoch →
latency mapping, metric and workload names, and gates that fail on a
corrupted tally."""

from __future__ import annotations

import copy
import hashlib
import json
import os
import re
import time
from decimal import Decimal

import pytest

import gates
import gen
import probes
import run
import workloads

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
BENCHMARK_JSON = os.path.join(run.REPO, "BENCHMARK.json")


def _digest_tree(path: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            with open(os.path.join(root, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def _inputs(base: str, seed: int):
    m = gen.write_masters(f"{base}/masters", seed)
    files = gen.write_backlog(f"{base}/txns", m, seed, 3, 400)
    return [f.tally for f in files]


# --- generator --------------------------------------------------------------

def test_generator_is_deterministic_per_seed(tmp_path):
    t1 = _inputs(str(tmp_path / "a"), 7)
    t2 = _inputs(str(tmp_path / "b"), 7)
    t3 = _inputs(str(tmp_path / "c"), 8)
    assert _digest_tree(str(tmp_path / "a")) == _digest_tree(str(tmp_path / "b"))
    assert t1 == t2
    assert _digest_tree(str(tmp_path / "a")) != _digest_tree(str(tmp_path / "c"))
    assert t1 != t3


def test_generator_shapes(tmp_path):
    m = gen.write_masters(str(tmp_path), 1)
    assert len(m.customer_ids) == gen.N_CUSTOMERS == len(set(m.customer_ids))
    assert len(m.prices) == gen.N_PRODUCTS
    files = gen.write_backlog(str(tmp_path / "t"), m, 1, 2, 2000)
    assert files[0].last_order < files[1].first_order          # disjoint order ids
    t = files[0].tally
    assert t.rows == 2000 and t.loaded + t.evicted == t.rows
    assert 0.01 < t.evicted / t.rows < 0.12                     # ~5 % unknown customers
    assert 0 < t.null_amounts / t.loaded < 0.08                 # ~3 % unknown products
    with open(files[0].path) as f:
        assert f.readline() == gen.TXN_HEADER


def test_documents_are_deterministic_per_seed_with_planted_pairs(tmp_path):
    import pyarrow.parquet as pq

    paths = [str(tmp_path / n / "documents.parquet") for n in ("a", "b", "c")]
    for path, seed in zip(paths, (7, 7, 8)):
        gen.write_documents(path, seed, 200)
    a, b, c = (pq.read_table(p).to_pylist() for p in paths)
    assert a == b and a != c
    assert [r["doc_id"] for r in a] == list(range(200))
    assert all(r["n_chars"] == len(r["text"]) for r in a)
    texts = [r["text"] for r in a]
    assert sum(t.endswith(" dup") for t in texts) > 0                  # near-duplicates
    assert any(t in u for i, t in enumerate(texts) for u in texts[:i])  # contained slices


# --- names --------------------------------------------------------------------

def test_benchmark_json_names_match_the_program():
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME.match(n) for n in names), names
    assert len(names) == len(set(names))
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert set(run.WORKLOADS) == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: u for k, (_f, u) in run.PER_LAYER.items()}
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


# --- statistics and the load generator ---------------------------------------

def test_summary_and_tail_percentile():
    assert probes.tail_percentile(10) == 0
    assert probes.tail_percentile(20) == 50
    assert probes.tail_percentile(200) == 95
    s = probes.summary([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["tail_pct"] == 90
    assert probes.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4


def test_loadgen_lands_files_at_due_times(tmp_path):
    m = gen.write_masters(str(tmp_path / "m"), 3)
    staged = gen.write_backlog(str(tmp_path / "staging"), m, 3, 4, 10)
    src = tmp_path / "src"
    src.mkdir()
    t0 = time.time() + 0.05
    lg = workloads._LoadGen(staged, str(src), t0, 0.05, t0 + 0.12)
    lg.start()
    lg.join(timeout=10)
    assert not lg.is_alive() and lg.error is None
    assert [f.path for f, _d, _l in lg.placed] == [f.path for f in staged[:3]]
    assert [d for _f, d, _l in lg.placed] == pytest.approx([t0, t0 + 0.05, t0 + 0.10])
    assert all(0 <= landed - due < 1.0 for _f, due, landed in lg.placed)
    assert sorted(os.listdir(src)) == [os.path.basename(f.path) for f in staged[:3]]


# --- gates ----------------------------------------------------------------------

@pytest.fixture(scope="module")
def tiny_run(spark, tmp_path_factory):
    """Three files drained one per micro-batch by ``run_streaming_etl``."""
    work = str(tmp_path_factory.mktemp("tiny"))
    listener = probes.make_progress_listener(spark)
    ctx = workloads.Ctx(spark, work, 5, 1.0, 2, probes.Tracer(False), listener)
    masters = gen.write_masters(f"{work}/masters", 5)
    files = gen.write_backlog(f"{work}/src", masters, 5, 3, 300)
    call = workloads._etl_call(ctx, f"{work}/src", masters, f"{work}/wh", f"{work}/ckpt",
                               1, key="tiny")
    (batches,) = workloads._query_runs(listener, 0, 1)
    return f"{work}/wh", files, call, batches


def test_file_epoch_latency_mapping(spark, tiny_run):
    wh, files, (start, end), batches = tiny_run
    assert [b["batch_id"] for b in batches] == [0, 1, 2]
    assert [b["rows"] for b in batches] == [f.tally.rows for f in files]
    epochs, problems = gates.file_epochs(spark, wh, files)
    assert problems == []
    assert [epochs[f.path] for f in files] == [0, 1, 2]
    ends = {b["batch_id"]: b["end"] for b in batches}
    latency = [ends[epochs[f.path]] - start for f in files]
    assert latency == sorted(latency)                       # later batch, later visible
    assert 0 < latency[0] and latency[-1] <= end - start + 1.0


def test_ingest_gate_passes_on_the_true_tally(spark, tiny_run):
    wh, files, _call, batches = tiny_run
    tally = gen.Tally()
    for f in files:
        tally.add(f.tally)
    assert gates.ingest_problems(spark, wh, tally, sum(b["rows"] for b in batches)) == []


@pytest.mark.parametrize("corrupt", [
    lambda t: setattr(t, "amount", t.amount + Decimal("0.01")),
    lambda t: setattr(t, "loaded", t.loaded + 1),
    lambda t: setattr(t, "null_amounts", t.null_amounts + 1),
    lambda t: setattr(t, "evicted", t.evicted - 1),
    lambda t: t.customers.pop(),
    lambda t: t.dates.add("1999-01-01"),
])
def test_ingest_gate_fails_on_a_corrupted_tally(spark, tiny_run, corrupt):
    wh, files, _call, batches = tiny_run
    tally = gen.Tally()
    for f in files:
        tally.add(copy.deepcopy(f.tally))
    corrupt(tally)
    assert gates.ingest_problems(spark, wh, tally, sum(b["rows"] for b in batches))
