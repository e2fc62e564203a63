"""Tests of the benchmark's own arithmetic and plumbing (no Spark).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import harness, stats, tracing, wordcount  # noqa: E402
from perfbench.harness import FreshPaths  # noqa: E402

# ------------------------------------------------------------ percentiles


def test_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 100 samples
    value, pct, n = stats.tail(values)
    assert (value, pct, n) == (90.0, 90, 100)
    assert sum(v > value for v in values) >= 10


@pytest.mark.parametrize("n", [11, 12, 25, 56, 57, 99, 1000])
def test_tail_is_highest_percentile_with_ten_beyond(n):
    values = [float(i) for i in range(n)]
    value, pct, _ = stats.tail(values)
    assert sum(v > value for v in values) >= 10
    # one percentile higher would leave fewer than ten samples beyond
    import math

    rank = math.ceil((pct + 1) * n / 100)
    assert pct == 100 or n - rank < 10


def test_tail_is_order_free_and_refuses_too_few():
    values = [3.0, 1.0, 2.0] * 10
    assert stats.tail(values) == stats.tail(sorted(values))
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


def test_quartile_spread():
    assert stats.quartile_spread([1.0] * 10) == 0.0
    assert stats.quartile_spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]) == pytest.approx(
        (8.25 - 2.75) / 5.5
    )


# ------------------------------------------------------------ self time


def _span(name, start, end, parent=None, sid=None):
    return tracing.Span(name, start, end, 1, sid or 0, parent)


def test_covered_merges_and_clips():
    assert tracing.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.covered([(-5, 1), (9, 20)], 0, 10) == 2
    assert tracing.covered([], 0, 10) == 0
    assert tracing.covered([(3, 3), (4, 2)], 0, 10) == 0


def test_self_time_subtracts_union_of_children():
    parent = _span("construct", 10.0, 20.0)
    kids = [_span("job", 11, 13), _span("job", 12, 15), _span("job", 19, 25)]
    # children cover [11, 15] and [19, 20]: 5 of the parent's 10 s
    assert tracing.self_time(parent, kids) == pytest.approx(5.0)
    assert tracing.self_time(parent, []) == pytest.approx(10.0)


def test_tracer_tree():
    t = tracing.Tracer()
    p = t.add("pass", 0, 10, 0)
    c1 = t.add("call", 0, 4, 1, p.span_id)
    c2 = t.add("call", 5, 9, 2, p.span_id)
    t.add("construct", 0, 3, 1, c1.span_id)
    assert t.children(p) == [c1, c2]
    assert tracing.self_time(p, t.children(p)) == pytest.approx(2.0)


# ------------------------------------------------------------ attribution


def test_jobs_are_attributed_by_group_and_window():
    jobs = [
        {"jobId": 1, "jobGroup": "perfbench-1", "submissionTime": "2026-01-01T00:00:01.000GMT"},
        {"jobId": 2, "jobGroup": "perfbench-1", "submissionTime": "2026-01-01T00:00:05.500GMT"},
        {"jobId": 3, "jobGroup": "perfbench-2", "submissionTime": "2026-01-01T00:00:07.000GMT"},
        {"jobId": 4, "submissionTime": "2026-01-01T00:00:07.000GMT"},
    ]
    groups = tracing.jobs_by_group(jobs)
    assert [j["jobId"] for j in groups["perfbench-1"]] == [1, 2]
    assert [j["jobId"] for j in groups["perfbench-2"]] == [3]
    assert sum(len(v) for v in groups.values()) == 3  # ungrouped job 4 belongs to no call

    t0 = tracing.parse_rest_time("2026-01-01T00:00:00.000GMT")
    windows = [("construct", t0, t0 + 5.0), ("plan", t0 + 5.0, t0 + 5.2), ("action", t0 + 5.2, t0 + 9)]
    where = [tracing.window_of(tracing.parse_rest_time(j["submissionTime"]), windows, "action")
             for j in groups["perfbench-1"]]
    assert where == ["construct", "action"]
    # a job stamped within REST's millisecond rounding of a window edge
    assert tracing.window_of(t0 + 5.0005, windows[:1], "action") == "construct"


def test_sql_executions_attributed_by_job_id():
    executions = [
        {"id": 0, "successJobIds": [1], "nodes": []},  # construction-time checkpoint
        {"id": 1, "successJobIds": [2, 3], "failedJobIds": [], "nodes": []},
        {"id": 2, "successJobIds": [9], "nodes": []},
    ]
    assert [e["id"] for e in tracing.executions_for_jobs(executions, [1, 3])] == [0, 1]
    assert tracing.executions_for_jobs(executions, []) == []


def test_python_node_metrics():
    executions = [{"nodes": [
        {"nodeName": "ArrowEvalPython", "metrics": [
            {"name": "time to start Python workers", "value": "total (min, med, max (stageId: taskId))\n2.0 s (0.1 s, 0.5 s, 0.9 s (stage 3.0: task 7))"},
            {"name": "time to initialize Python workers", "value": "36.5 s"},
            {"name": "data sent to Python workers", "value": "1.5 KiB"},
        ]},
        {"nodeName": "HashAggregate", "metrics": [{"name": "number of output rows", "value": "12"}]},
    ]}]
    m = tracing.python_node_metrics(executions)
    assert m["python.nodes"] == 1
    assert m["python.start_s"] == pytest.approx(2.0)
    assert m["python.init_s"] == pytest.approx(36.5)
    assert m["python.bytes_in"] == pytest.approx(1536)


@pytest.mark.parametrize("text,value", [
    ("36.5 s", 36.5),
    ("total (min, med, max (stageId: taskId))\n36.5 s (1.2 s, 3.0 s, 9.1 s (stage 4.0: task 17))", 36.5),
    ("1,234", 1234),
    ("250 ms", 0.25),
    ("2.0 MiB", 2 * 1024**2),
    ("3.0 m", 180.0),
])
def test_parse_metric(text, value):
    assert tracing.parse_metric(text) == pytest.approx(value)


def test_parse_rest_time():
    assert tracing.parse_rest_time("1970-01-01T00:00:01.250GMT") == pytest.approx(1.25)


class _Target:
    def read(self, x):
        return x + 1


def test_boundary_counters_count_and_restore():
    boundary = (("sources.reads", __name__, "_Target", ("read",)),)
    counters = tracing.BoundaryCounters(boundary)
    bound = _Target()
    counters.install()
    try:
        # a name bound before install still goes through the class
        assert bound.read(1) == 2 and _Target().read(2) == 3
    finally:
        counters.uninstall()
    bound.read(3)
    assert counters.counts == Counter({"sources.reads": 2})
    assert "read" in _Target.__dict__ and not hasattr(_Target.read, "__wrapped__")


def test_boundary_names_pyspark_classes_that_define_the_methods():
    import importlib

    for _, mod, cls_name, methods in tracing.BOUNDARY:
        cls = getattr(importlib.import_module(mod), cls_name)
        for m in methods:
            assert m in cls.__dict__, f"{cls_name}.{m} is inherited; wrapping it would count nothing"


# ------------------------------------------------------------ inputs


def test_fresh_paths_are_never_shared(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    files = [src / "a.parquet", src / "b.parquet"]
    for f in files:
        f.write_bytes(b"x")
    paths = FreshPaths(tmp_path / "calls", files)
    got = [paths() for _ in range(50)]
    assert len(set(got)) == len(got)
    for p in got:
        assert sorted(x.name for x in Path(p).iterdir()) == ["a.parquet", "b.parquet"]
        assert (Path(p) / "a.parquet").resolve() == files[0].resolve()


def test_corpus_is_seeded_and_counts_are_exact():
    a, counts = wordcount.make_corpus(7, n_files=3, bytes_per_file=2000, vocab=300)
    b, _ = wordcount.make_corpus(7, n_files=3, bytes_per_file=2000, vocab=300)
    c, _ = wordcount.make_corpus(8, n_files=3, bytes_per_file=2000, vocab=300)
    assert a == b and a != c
    assert counts == Counter(w for text in a for w in text.split())
    top = counts.most_common()
    assert top[0][1] > 5 * top[len(top) // 2][1]  # Zipf-skewed


def test_wordcount_scripts_match_callables(tmp_path):
    texts, counts = wordcount.make_corpus(3, n_files=1, bytes_per_file=3000, vocab=200)
    script = Path(wordcount.__file__)
    mapped = subprocess.run([sys.executable, str(script), "map"], input=texts[0],
                            capture_output=True, text=True, check=True).stdout
    assert mapped.splitlines() == [f"{k}\t{v}" for line in texts[0].splitlines()
                                   for k, v in wordcount.map_words(line)]
    shuffled = "".join(sorted(mapped.splitlines(keepends=True)))
    reduced = subprocess.run([sys.executable, str(script), "reduce"], input=shuffled,
                             capture_output=True, text=True, check=True).stdout
    out = tmp_path / "outputfile01"
    out.write_text(reduced)
    assert wordcount.read_counts([out]) == counts
    assert wordcount.reduce_counts("w", ["1", "1", "1"]) == [("w", "3")]


def test_steal_share():
    before = [100, 0, 50, 800, 0, 0, 0, 50, 0, 0]
    after = [200, 0, 100, 900, 0, 0, 0, 150, 0, 0]
    assert harness.steal_share(before, after) == pytest.approx(100 / 350)
    assert harness.steal_share(before, before) == 0.0
    assert len(harness.cpu_times()) >= 8
