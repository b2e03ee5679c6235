"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The smoke tests run each workload end to end at 1/50 scale; they start
a Spark JVM each and take about a minute apiece.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import tracing as T  # noqa: E402

TINY = gen.Sizes(lineitem=600, docs=60, vectors=100, vocab=500)


def _hash(tmp_path, seed: int, name: str) -> str:
    gen.generate(str(tmp_path / name / "sf"), seed, TINY)
    return gen.content_hash(str(tmp_path / name))


def test_generator_is_deterministic(tmp_path):
    assert _hash(tmp_path, 7, "a") == _hash(tmp_path, 7, "b")
    assert _hash(tmp_path, 7, "a") != _hash(tmp_path, 8, "c")


def test_generator_keeps_fixture_types(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    inputs = gen.generate(str(sf), 3, TINY)
    schema = lambda t: pq.read_schema(sf / f"{t}.parquet")  # noqa: E731
    assert schema("orders").field("o_orderdate").type == pa.timestamp("ms")
    assert schema("lineitem").field("l_shipdate").type == pa.timestamp("ms")
    assert schema("events").field("ts").type == pa.timestamp("ns")
    assert schema("embeddings").field("embedding").type == pa.list_(pa.float32())
    assert schema("customer").field("c_nationkey").type == pa.int32()
    docs = pq.read_table(sf / "documents.parquet").to_pandas().set_index("doc_id")
    assert len(docs) == TINY.docs
    for orig, copy, kind in inputs.dup_pairs:
        a, b = docs.text[orig].split(), docs.text[copy].split()
        assert len(a) == len(b)
        if kind == "exact":
            assert a == b


def test_metric_names_are_valid_and_unique():
    names = [m.name for m in M.END_TO_END + M.PER_LAYER + M.REPORT_ONLY]
    assert len(names) == len(set(names))
    for n in names:
        assert T.METRIC_NAME.match(n), n
    for m in M.END_TO_END + M.PER_LAYER + M.REPORT_ONLY:
        assert m.better in ("lower", "higher")


def test_benchmark_json_matches_catalogue():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    assert [w["name"] for w in b["workloads"]] == ["curate_docs", "serve_mixed"]
    assert b["end_to_end"] == [
        {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
        for m in M.END_TO_END
    ]
    assert b["per_layer"] == [
        {"name": m.name, "unit": m.unit, "better": m.better} for m in M.PER_LAYER
    ]
    setup = b["end_to_end"][0]
    assert setup["name"] == "setup_s"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


@pytest.mark.parametrize("n,expect", [
    (9, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expect):
    p = T.tail_percentile(n)
    assert p == expect
    if p is not None:
        assert n - math.ceil(round(p * n / 100, 9)) >= 10


def test_summarize_reports_median_tail_and_count():
    xs = [float(i) for i in range(1, 101)]
    s = T.summarize(xs)
    assert s == {"n": 100, "p50": 50.5, "tail_p": 90.0, "tail": 90.0}
    assert T.summarize([3.0]) == {"n": 1, "p50": 3.0}


def test_self_time_subtracts_union_of_children():
    S = T.Span
    spans = [
        S("op", 0.0, 10.0, None, "a", 0),
        S("child", 1.0, 4.0, 0, "a", 1),
        S("child", 3.0, 6.0, 0, "a", 2),  # overlaps the first child
        S("late", 8.0, 12.0, 0, "a", 3),  # runs past its parent
        S("grand", 1.5, 2.0, 1, "a", 4),
    ]
    got = T.self_times(spans)
    assert got["op"] == pytest.approx(10 - 5 - 2)
    assert got["child"] == pytest.approx((3 - 0.5) + 3)
    assert got["late"] == pytest.approx(4)
    assert got["grand"] == pytest.approx(0.5)


def test_tracer_records_parents_per_thread():
    tr = T.Tracer(enabled=True)
    with tr.span("outer", "x"):
        with tr.span("inner", "x"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0)]
    off = T.Tracer()
    with off.span("outer"):
        pass
    assert off.spans == []


def _run(args, cwd=REPO, timeout=240):
    return subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = _run(["--workload", "curate_docs", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=tmp_path, timeout=60)
    assert r.returncode != 0
    assert '"correct"' not in r.stdout


@pytest.mark.parametrize("workload", ["curate_docs", "serve_mixed"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run_at_small_scale(workload, trace):
    r = _run(["--workload", workload, "--seed", "5", "--seconds", "1",
              "--trace", str(trace), "--scale", "0.02"])
    assert r.returncode == 0, r.stderr[-3000:]
    last = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    wanted = M.PER_LAYER if trace else M.END_TO_END
    assert list(last["metrics"]) == [m.name for m in wanted]
    for m in wanted:
        got = last["metrics"][m.name]
        assert got["unit"] == m.unit and math.isfinite(got["value"])
    if not trace:
        assert all(last["metrics"][m.name]["value"] > 0 for m in wanted)
    assert "# inputs hash=" in r.stdout
    assert not [d for d in os.listdir(os.path.join(REPO, ".perfbench")) if d.startswith("run-")]
