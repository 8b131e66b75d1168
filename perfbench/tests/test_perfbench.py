"""Self-tests of the benchmark: seeded inputs, the metric contract, span
self times, traced counters, the dedup_delta check, and refusal to run
without the program.

    python3 -m pytest perfbench/tests -q -m "not slow"   # fast tests (one small session)
    python3 -m pytest perfbench/tests -q                 # also run each workload briefly
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
from harness import Tracer  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for r, dirs, names in sorted(os.walk(path)):
        dirs.sort()
        for n in sorted(names):
            p = os.path.join(r, n)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read().replace(path.encode(), b"<root>"))
    return h.hexdigest()


def _write_all(root: str, seed: int) -> str:
    root = os.path.abspath(root)
    gen.write_geo_sources(os.path.join(root, "geo"), seed)
    gen.write_events(os.path.join(root, "stream"), os.path.join(root, "sf"), seed)
    gen.write_documents(os.path.join(root, "sf"), seed)
    gen.write_embeddings(os.path.join(root, "sf"), seed)
    return _digest(root)


def test_same_seed_same_bytes_other_seed_other_inputs(tmp_path):
    a = _write_all(str(tmp_path / "a"), 11)
    b = _write_all(str(tmp_path / "b"), 11)
    c = _write_all(str(tmp_path / "c"), 12)
    assert a == b
    assert a != c


def test_geo_planting_matches_its_domains(tmp_path):
    info = gen.write_geo_sources(str(tmp_path), 5)
    n = info["n_features"]
    kept = sum(info["expected"].values())
    assert n == gen.FEATURES_PER_SOURCE
    # 10% minority, 5% out of window, 25% outside the AOI are dropped
    assert 0.5 * n < kept < 0.75 * n


def test_events_deliver_duplicates_and_every_event(tmp_path):
    import pyarrow.parquet as pq

    info = gen.write_events(str(tmp_path / "s"), str(tmp_path / "sf"), 5)
    events = pq.read_table(str(tmp_path / "sf" / "events.parquet")).column("event_id")
    delivered = pq.read_table(str(tmp_path / "sf" / "delivered.parquet")).column("event_id")
    assert info["n_delivered"] > info["n_events"]
    assert sorted(set(delivered.to_pylist())) == sorted(events.to_pylist())
    assert len(os.listdir(tmp_path / "s")) == info["n_files"] == gen.N_FILES


def test_delta_check_fails_on_lost_matches():
    from workloads import Similarity

    wl = Similarity.__new__(Similarity)
    wl.exact_delta = {(10, 1): (5, 0.5), (11, 2): (6, 0.75)}
    wl.delta_floor = None
    wl.delta_recall = []
    assert wl._check_delta([]) is not None  # the first call must find a match
    assert wl._check_delta([(10, 1, 5, 0.5), (11, 2, 6, 0.75)]) is None
    assert wl.delta_floor == 2
    assert wl._check_delta([(10, 1, 5, 0.5)]) is not None
    assert wl._check_delta([(10, 1, 5, 0.5), (10, 1, 5, 0.5)]) is not None
    assert wl._check_delta([(10, 1, 5, 0.5), (12, 3, 5, 0.5)]) is not None


def _span(tr, name, start, end, parent=None):
    rec = {"id": len(tr.spans), "name": name, "parent": parent, "start": start, "end": end}
    tr.spans.append(rec)
    return rec["id"]


def test_self_times_add_up_to_span_totals():
    tr = Tracer(None, False, "t")
    root = _span(tr, "pass", 0.0, 10.0)
    a = _span(tr, "a", 1.0, 4.0, root)
    _span(tr, "a1", 1.5, 2.0, a)
    _span(tr, "a2", 2.5, 3.5, a)
    _span(tr, "b", 5.0, 9.0, root)
    selfs = tr.self_times()
    assert selfs[root] == pytest.approx(3.0)
    assert selfs[a] == pytest.approx(1.5)
    assert sum(selfs.values()) == pytest.approx(10.0)


def test_overlapping_children_are_subtracted_once():
    tr = Tracer(None, False, "t")
    a = _span(tr, "a", 1.0, 4.0)
    _span(tr, "a1", 1.5, 2.5, a)
    _span(tr, "a2", 2.0, 3.0, a)
    assert tr.self_times()[a] == pytest.approx(3.0 - 1.5)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-selftest")
         .config("spark.ui.enabled", "false").config("spark.driver.memory", "1g")
         .config("spark.sql.shuffle.partitions", "4").getOrCreate())
    yield s
    s.stop()


def test_traced_counters_repeat_exactly(spark):
    """Counters are read after the listener bus has delivered the span's
    events, so the same traced job reads the same shuffle bytes each time."""
    from pyspark.sql import functions as F

    tr = Tracer(spark, True, "t")
    for _ in range(3):
        with tr.span("job"):
            (spark.range(20000).withColumn("k", F.col("id") % 7)
             .repartition(4, "k").groupBy("k").count().collect())
    counters = [s["counters"] for s in tr.spans]
    assert counters[0]["shuffle_bytes"] > 0 and counters[0]["jobs"] > 0
    for c in counters[1:]:
        assert (c["jobs"], c["stages"], c["shuffle_bytes"]) == (
            counters[0]["jobs"], counters[0]["stages"], counters[0]["shuffle_bytes"])


def test_layer_map_names_every_per_layer_metric():
    with open(os.path.join(BENCH, "layers.json")) as f:
        layers = json.load(f)
    per_layer = {m["name"] for m in SPEC["per_layer"]}
    end_to_end = {m["name"] for m in SPEC["end_to_end"]}
    workloads = {w["name"] for w in SPEC["workloads"]}
    assert set(layers) == per_layer
    for name, entry in layers.items():
        assert set(entry["moves"]) <= end_to_end, name
        assert entry["on"] in workloads | {"both"}, name


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.slow
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_emitted_with_its_unit(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] != 0 for v in result["metrics"].values())
    work = os.path.join(ROOT, ".perfbench_work")
    assert not os.path.isdir(work) or not os.listdir(work)
