"""Tests of the benchmark itself, on tiny inputs.

    python -m pytest perfbench/tests -q -p no:cacheprovider

Run from the repository root.  The last test starts Spark and takes about
a minute.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
import host  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402
from spans import Span, self_times  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_per_layer_emits_every_name_even_without_spans():
    out = metrics.per_layer([], ["warm1", "warm2"], 3, {})
    assert set(out) == set(metrics.PER_LAYER)


def test_generators_are_deterministic_by_seed(tmp_path):
    a = gen.star_schema_tables(5, "tiny")
    b = gen.star_schema_tables(5, "tiny")
    c = gen.star_schema_tables(6, "tiny")
    assert all(a[t].equals(b[t]) for t in gen.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    p1 = gen.words_file(str(tmp_path / "one"), 5, 1)
    p2 = gen.words_file(str(tmp_path / "two"), 5, 1)
    with open(p1, "rb") as f1, open(p2, "rb") as f2:
        assert f1.read() == f2.read()
    # a finished cache entry is reused, not rebuilt
    d = gen.star_schema_dir(str(tmp_path / "cache"), 5, "tiny")
    mtime = os.path.getmtime(os.path.join(d, "lineitem.parquet"))
    assert gen.star_schema_dir(str(tmp_path / "cache"), 5, "tiny") == d
    assert os.path.getmtime(os.path.join(d, "lineitem.parquet")) == mtime


def test_near_duplicate_share_is_planted():
    docs = gen.star_schema_tables(3, "sf0.01")["documents"].to_pandas()
    share = docs["text"].str.endswith(" dup").mean()
    assert 0.02 < share < 0.08


@pytest.mark.parametrize("n, expected", [(19, None), (20, 50.0), (40, 75.0), (1000, 99.0)])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    values = [float(i) for i in range(n, 0, -1)]
    got = metrics.tail(values)
    if expected is None:
        assert got is None
        return
    value, p, count = got
    assert (p, count) == (expected, n)
    assert sum(1 for v in values if v > value) == metrics.MIN_BEYOND


def test_hd_median_is_the_middle_and_moves_smoothly_between_clusters():
    assert metrics.hd_median([]) == 0.0
    assert metrics.hd_median([7.0]) == pytest.approx(7.0)
    assert metrics.hd_median(list(range(101))) == pytest.approx(50.0)
    # two latency clusters: moving one sample across shifts the estimate a
    # little, where the sample median would jump from one cluster to the other
    low = metrics.hd_median([1.0] * 20 + [2.0] * 19)
    high = metrics.hd_median([1.0] * 19 + [2.0] * 20)
    assert 1.0 < low < 1.5 < high < 2.0
    assert high - low < 0.2


def test_self_time_subtracts_the_union_of_children():
    spans = [
        Span(0, "a.plan", 0.0, 10.0, None, "r", "q", "warm1"),
        Span(1, "b.call", 1.0, 3.0, 0, "r", "q", "warm1"),
        Span(2, "b.call", 2.0, 5.0, 0, "r", "q", "warm1"),  # overlaps its sibling
        Span(3, "c.call", 8.0, 12.0, 0, "r", "q", "warm1"),  # runs past its parent
        Span(4, "d.call", 3.5, 4.0, 2, "r", "q", "warm1"),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[4] == pytest.approx(0.5)


def test_a_wrong_output_is_named_and_counted(tmp_path):
    data_dir = gen.star_schema_dir(str(tmp_path), 1, "tiny")
    oracles = {
        "n_regions": "SELECT count(*)::BIGINT AS n FROM region",
        "n_nations": "SELECT count(*)::BIGINT AS n FROM nation",
    }
    results = {
        "n_regions": pd.DataFrame({"n": [5]}),
        "n_nations": pd.DataFrame({"n": [24]}),  # wrong: there are 25
    }
    wrong = checks.check_queries(None, data_dir, results, oracles, {})
    assert list(wrong) == ["n_nations"]
    assert metrics.failed_count({}, wrong) / 4 == 0.25


def test_wordcount_is_checked_against_a_python_counter(tmp_path):
    data_dir = gen.star_schema_dir(str(tmp_path), 1, "tiny")
    docs = pd.read_parquet(os.path.join(data_dir, "documents.parquet"))
    counts = checks.word_counts(docs["text"])
    right = pd.DataFrame({"word": list(counts), "cnt": list(counts.values())})
    assert checks.wordcount_mismatch({"wordcount": right}, docs) is None
    off = right.assign(cnt=right["cnt"] + (right.index == 0))
    assert checks.wordcount_mismatch({"mapreduce_wordcount": off}, docs) is not None


def test_rows_only_check_needs_equal_nonempty_results():
    one = pd.DataFrame({"x": [1.0, 2.0]})
    assert checks.rows_only_mismatch(one, one.iloc[::-1]) is None
    assert checks.rows_only_mismatch(one.iloc[:0], one.iloc[:0]) == "empty result"
    assert checks.rows_only_mismatch(one, one.iloc[:1]) is not None


def test_stop_processes_ends_children_and_grandchildren():
    sleeper = "import time; time.sleep(600)"
    child = subprocess.Popen([
        sys.executable, "-c",
        f"import subprocess, sys, time; subprocess.Popen([sys.executable, '-c', {sleeper!r}]); time.sleep(600)",
    ])
    deadline = time.monotonic() + 30
    while len(host.descendants(os.getpid())) < 2:
        assert time.monotonic() < deadline, "the grandchild never started"
        time.sleep(0.05)
    tree = host.descendants(os.getpid())
    assert host.stop_processes(timeout_s=5) == []
    assert child.wait(timeout=5) != 0
    assert [pid for pid in tree if host._start_time(pid) is not None] == []


def _processes_mentioning(marker: bytes) -> list[int]:
    """Live processes whose command line or environment holds ``marker``."""
    found = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f1, open(f"/proc/{name}/environ", "rb") as f2:
                if marker in f1.read() or marker in f2.read():
                    found.append(int(name))
        except OSError:
            continue
    return found


def test_tiny_run_prints_one_strict_json_result_line_and_leaves_no_process():
    proc = subprocess.Popen(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", "sql_battery",
         "--seed", "3", "--seconds", "1", "--trace", "0", "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    stdout, stderr = proc.communicate(timeout=600)
    # the JVM and the Python workers run with the run's scratch directory
    # (named after the benchmark's pid) in their environment
    assert _processes_mentioning(f"run-{proc.pid}".encode()) == []
    assert proc.returncode == 0, stderr[-2000:]
    last = stdout.strip().splitlines()[-1]
    result = json.loads(last, parse_constant=lambda c: pytest.fail(f"non-strict JSON {c}"))
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == metrics.END_TO_END
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_run_outside_a_checkout_fails_without_a_result(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "sql_battery",
         "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
