"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.trace import Span, self_times
from perfbench.workloads import END_TO_END, StreamingAvgdl, per_layer_units, topk_matches

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parquet_bytes(tmp_path, seed, name) -> bytes:
    path = tmp_path / name
    gen.write_parquet(gen.transcripts(seed, 300, 5_000), str(path))
    return path.read_bytes()


def test_generator_is_byte_identical_per_seed(tmp_path):
    assert _parquet_bytes(tmp_path, 7, "a.parquet") == _parquet_bytes(tmp_path, 7, "b.parquet")
    assert _parquet_bytes(tmp_path, 7, "a.parquet") != _parquet_bytes(tmp_path, 8, "c.parquet")


def test_query_stream_is_identical_per_seed():
    cols = gen.transcripts([3, 1], 300, 5_000)
    df = {}
    for text in cols["text"]:
        for w in set(text.lower().split()):
            df[w] = df.get(w, 0) + 1
    bands = gen.term_bands(df)

    def stream(seed):
        words, phrases = gen.surface_samples(seed, cols, 20)
        return gen.query_stream(seed, 40, bands, words, phrases)

    assert stream(5) == stream(5)
    assert stream(5) != stream(6)
    # every run sees the same mix of query kinds
    assert [q[0] for q in stream(5)] == [q[0] for q in stream(6)]


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span(0, "op", "g", None, start=0.0, end=10.0),
        Span(1, "a", "g", 0, start=1.0, end=4.0),
        Span(2, "a.inner", "g", 1, start=2.0, end=3.0),
        Span(3, "b", "g", 0, start=5.0, end=9.0),
        # overlaps b and runs past the parent's end: it adds only [9, 10]
        Span(4, "c", "g", 0, start=8.0, end=12.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - (3 + 4 + 1))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(4.0)


def test_topk_matching_tolerates_ties_only():
    ranking = [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]
    assert topk_matches([(1, 3.0), (3, 2.0)], ranking, 2)
    assert not topk_matches([(1, 3.0), (4, 1.0)], ranking, 2)
    assert not topk_matches([(1, 3.0)], ranking, 2)
    # filtered: the ranking after dropping doc 1 starts with the tie 2, 3
    assert topk_matches([(3, 2.0), (2, 2.0)], ranking, 2, allowed=lambda d: d != 1)
    assert not topk_matches([(2, 2.0), (4, 1.0)], ranking, 2, allowed=lambda d: d != 1)


def test_streaming_avgdl_is_the_true_or_the_pinned_full_compaction_value():
    a = StreamingAvgdl()
    assert not a.check(10.0, 10.2)  # no full compaction seen yet
    assert a.check(10.0, 10.0)  # a full compaction weights with the true avgdl
    assert a.check(10.0, 10.3)  # incremental: pinned while the drift is within 5%
    assert not a.check(10.0, 10.6)  # a 6% drift must have recompacted in full
    assert not a.check(10.1, 10.3)  # neither the true nor the pinned value
    assert a.check(10.6, 10.6)  # recompacted in full


def test_benchmark_json_names_every_reported_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == per_layer_units()


def test_run_without_the_engine_fails_without_a_result(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bulk_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# Shrinks the inputs so a full traced run takes seconds of work, not minutes.
_TINY = """
import sys
sys.path.insert(0, {root!r})
import perfbench.workloads as w
w.BULK_TURNS = 200
w.EPOCH_TURNS = 150
from perfbench import run
sys.exit(run.main(sys.argv[1:]))
"""


@pytest.mark.parametrize("workload", ["bulk_build", "ingest_query"])
def test_tiny_traced_run_reports_every_per_layer_metric(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = {m["name"] for m in json.load(fh)["per_layer"]}
    proc = subprocess.run(
        [sys.executable, "-c", _TINY.format(root=ROOT), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1 and result["failed"] == 0
    assert set(result["metrics"]) == names
    assert os.path.exists(os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-1.jsonl"))
