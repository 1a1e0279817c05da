"""Self-tests of the benchmark's own arithmetic and contracts.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import workloads  # noqa: E402
from spans import Span, Tracer, covered, self_time  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_self_time_subtracts_the_union_of_children():
    parent = Span(0, "query", 0.0, 10.0, None, "r")
    kids = [Span(1, "a", 1.0, 3.0, 0, "r"), Span(2, "b", 2.0, 5.0, 0, "r"), Span(3, "c", 8.0, 12.0, 0, "r")]
    # children cover [1, 5] and [8, 10] of the parent: 6 s
    assert covered([(k.start, k.end) for k in kids], 0.0, 10.0) == pytest.approx(6.0)
    assert self_time(parent, kids) == pytest.approx(4.0)
    assert self_time(parent, []) == pytest.approx(10.0)


def test_tracer_links_parents_and_writes_self_time(tmp_path):
    tr = Tracer("run-1")
    with tr.span("pass"):
        with tr.span("query"):
            pass
    q = tr.add("plans.build", 1.0, 2.0, parent=1)
    assert [s.parent for s in tr.spans] == [None, 0, 1]
    assert q.run_id == "run-1"
    tr.write(str(tmp_path / "t.json"))
    rows = json.loads((tmp_path / "t.json").read_text())["spans"]
    assert all("self" in r for r in rows)
    off = Tracer("run-2", enabled=False)
    with off.span("pass"):
        assert off.add("query", 0.0, 1.0) is None
    assert off.spans == []


def test_permutation_is_deterministic_across_processes():
    names = tuple(f"q{i}" for i in range(30))
    order = workloads.permuted(names, 7, 1)
    assert sorted(order) == sorted(names)
    assert order == workloads.permuted(names, 7, 1)
    assert order != workloads.permuted(names, 8, 1)
    assert order != workloads.permuted(names, 7, 2)
    code = (f"import sys; sys.path.insert(0, {str(HERE)!r}); import workloads; "
            f"print(','.join(workloads.permuted({names!r}, 7, 1)))")
    for hash_seed in ("0", "12345"):
        out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, check=True,
                             env={**os.environ, "PYTHONHASHSEED": hash_seed})
        assert out.stdout.strip().split(",") == order


def test_tree_cpu_counts_a_live_child_and_keeps_it_once_reaped():
    burn = ("import sys, time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\n"
            "sys.stdout.write('x'); sys.stdout.flush(); time.sleep(60)")
    before = run.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdout=subprocess.PIPE)
    try:
        child.stdout.read(1)
        alive = run.tree_cpu_s() - before
    finally:
        child.kill()
        child.wait()
        child.stdout.close()
    reaped = run.tree_cpu_s() - before
    assert alive >= 0.45
    assert reaped >= alive - 0.05


def test_resolve_rejects_names_the_catalog_lacks(monkeypatch):
    monkeypatch.setattr(workloads, "WORKLOADS", {"w": ("a", "b"), "v": ("c",)})
    assert workloads.resolve({"a": 1, "b": 2, "c": 3}, "w") == ("a", "b")
    # every workload's list is checked, not only the one asked for
    with pytest.raises(SystemExit, match="'c'"):
        workloads.resolve({"a": 1, "b": 2}, "w")
    with pytest.raises(SystemExit, match="unknown workload"):
        workloads.resolve({"a": 1}, "nope")
    monkeypatch.setattr(workloads, "WORKLOADS", {"w": ("a",)})
    assert workloads.unrun({"a": 1, "b": 2}) == ["b"]


def test_every_workload_resolves_against_the_catalog():
    sys.path.insert(0, str(run.ROOT))
    from real_estate_etl_dev_spark.plans import CATALOG

    expected = json.loads(run.EXPECTED.read_text())["queries"]
    for name in workloads.WORKLOADS:
        for q in workloads.resolve(CATALOG, name):
            assert q in expected, q


def test_metric_names_and_benchmark_json_agree():
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layer == run.PER_LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    for name in [*e2e, *layer, *workloads.WORKLOADS]:
        assert NAME.match(name), name
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-selftest")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.warehouse.dir", str(tmp_path_factory.mktemp("wh"))).getOrCreate())
    yield s
    s.stop()


def test_hash_action_ignores_row_order_and_sees_one_changed_value(spark):
    from probes import hash_frame, read_hash

    rows = [(1, "a", {"k": 1.5}, [1, 2]), (2, "b", {"k": 2.5, "j": 0.0}, []), (3, None, {}, [3])]
    schema = "id int, s string, m map<string,double>, xs array<int>"
    base = read_hash(hash_frame(spark.createDataFrame(rows, schema)))
    shuffled = read_hash(hash_frame(spark.createDataFrame(rows[::-1], schema).repartition(3)))
    assert base == shuffled
    assert base[0] == 3
    reordered_map = [rows[0], (2, "b", {"j": 0.0, "k": 2.5}, []), rows[2]]
    assert read_hash(hash_frame(spark.createDataFrame(reordered_map, schema))) == base
    changed = list(rows)
    changed[1] = (2, "b", {"k": 2.5, "j": 0.5}, [])
    assert read_hash(hash_frame(spark.createDataFrame(changed, schema))) != base
    assert read_hash(hash_frame(spark.createDataFrame([], schema))) == (0, "0")


def test_traced_query_counts_only_its_own_stream_batches(spark, tmp_path):
    """An untraced pass leaves its micro-batches in the listener's buffer;
    the next traced query must not take them as its own."""
    import types

    import probes

    sys.path.insert(0, str(run.ROOT))
    src = tmp_path / "src"
    spark.range(5).write.parquet(str(src))
    started: list[str] = []

    def stream_query(spark, data_dir):
        q = (spark.readStream.schema("id long").parquet(str(src)).writeStream
             .format("noop").option("checkpointLocation", str(tmp_path / f"ck{len(started)}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        started.append(str(q.runId))
        return spark.range(3)

    bench = run.Bench(types.SimpleNamespace(trace=1, seed=1, workload="w"), "selftest")
    bench.spark, bench.data_dir = spark, str(tmp_path)
    bench.catalog = {"stream_q": types.SimpleNamespace(fn=stream_query)}
    bench.probe = probes.JvmProbe(spark)
    bench.streams = probes.StreamRecorder()
    spark.streams.addListener(bench.streams)
    try:
        bench.run_query("stream_q", 1, traced=False)
        rec = bench.run_query("stream_q", 2, traced=True)
    finally:
        spark.streams.removeListener(bench.streams)
    assert len(started) == 2
    assert rec["batches"] and {b["run_id"] for b in rec["batches"]} == {started[1]}
    assert len(rec["stream_jobs"]) == 1
