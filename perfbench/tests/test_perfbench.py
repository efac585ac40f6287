"""Tests of the benchmark itself: the generator, its ground truth, span
self time, metric parsing, per-kind medians, the keeping of JVM crash
files, and that BENCHMARK.json names what run.py prints.  No SparkSession is started.

Run from the checkout root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import json
import os
import sys
from collections import Counter

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import loggen  # noqa: E402
from spans import Span, parse_metric, self_times  # noqa: E402
from workloads import p50_by_kind, tail  # noqa: E402


def _digests(d: str) -> dict[str, str]:
    return {
        os.path.basename(p): hashlib.sha256(open(p, "rb").read()).hexdigest()
        for p in sorted(glob.glob(os.path.join(d, "*")))
    }


def _read_lines(d: str) -> list[str]:
    lines = []
    for p in sorted(glob.glob(os.path.join(d, "*.log*"))):
        opener = gzip.open if p.endswith(".gz") else open
        with opener(p, "rt", encoding="utf-8") as f:
            lines += f.read().splitlines()
    return lines


def test_same_seed_writes_identical_files(tmp_path):
    loggen.generate(str(tmp_path / "a"), 5, 4, 300)
    loggen.generate(str(tmp_path / "b"), 5, 4, 300)
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    assert a == b
    assert sorted(a) == ["part-0000.log", "part-0001.log.gz", "part-0002.log",
                         "part-0003.log.gz", "truth.json"]


def test_another_seed_writes_other_files(tmp_path):
    loggen.generate(str(tmp_path / "a"), 5, 2, 300)
    loggen.generate(str(tmp_path / "b"), 6, 2, 300)
    a, b = _digests(str(tmp_path / "a")), _digests(str(tmp_path / "b"))
    assert all(a[n] != b[n] for n in a)


def test_every_line_shape_occurs(tmp_path):
    truth = loggen.generate(str(tmp_path), 1, 2, 2000)
    assert set(truth.shapes) == {"standard", "non_ascii", "missing_priority",
                                 "truncated", "junk"}
    assert truth.malformed == sum(truth.shapes[s] for s in
                                  ("missing_priority", "truncated", "junk"))
    days = {h[:10] for h in truth.per_hour}
    assert len(days) == loggen.SPAN_DAYS
    lines = _read_lines(str(tmp_path))
    assert len(lines) == truth.lines
    assert any(not line.isascii() for line in lines)
    ips = Counter(ip for line in lines for ip in loggen.HOT_IPS if f" {ip} " in line)
    assert sum(ips.values()) > 0.1 * truth.lines


def test_truth_file_accumulates_batches(tmp_path):
    t1 = loggen.generate(str(tmp_path), 1, 2, 100, prefix="a")
    t2 = loggen.generate(str(tmp_path), 1, 2, 100, prefix="b")
    with open(tmp_path / "truth.json") as f:
        total = json.load(f)
    assert total["lines"] == t1.lines + t2.lines == 400
    assert loggen.Truth.from_dict(total).as_dict() == total


def test_truth_matches_the_program_parse(tmp_path):
    """The generator's ground truth is what the program's parser yields
    on a slice of its output."""
    from python_fastly_log_query_spark.operators.parse import parse_lines_pdf

    truth = loggen.generate(str(tmp_path), 3, 2, 1500)
    parsed = parse_lines_pdf(pd.Series(_read_lines(str(tmp_path))))
    parsed = parsed[parsed["_keep"]]
    assert len(parsed) == truth.lines
    classes = Counter(
        "other" if pd.isna(s) else loggen.status_class(int(s))
        for s in parsed["status_code"]
    )
    assert classes == truth.status_class
    hours = Counter(loggen.hour_key(ts) for ts in parsed["timestamp"] if not pd.isna(ts))
    assert hours == truth.per_hour
    paths = Counter(p for p in parsed["path"] if isinstance(p, str))
    assert paths == truth.per_path
    # fallback rows are the malformed shapes, and they carry no priority
    assert int(parsed["priority"].isna().sum()) == truth.malformed


def _span(sid, parent, start, end):
    return Span(sid=sid, name=f"s{sid}", parent=parent, rid=None, start=start, end=end)


def test_self_time_subtracts_children():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 3.0),
        _span(3, 1, 2.0, 5.0),   # overlaps 2: together they cover 1..5
        _span(4, 1, 7.0, 8.0),
        _span(5, 3, 2.5, 3.5),
        _span(6, None, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0 - 1.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(1.0)
    assert st[6] == pytest.approx(1.0)
    # a child running past its parent counts only inside the parent
    assert self_times([_span(1, None, 0.0, 2.0), _span(2, 1, 1.0, 4.0)])[1] == \
        pytest.approx(1.0)


def test_parse_metric_reads_status_store_values():
    assert parse_metric("0.0 B") == 0.0
    assert parse_metric("1544.0 B") == 1544.0
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "807.9 KiB (202.0 KiB, 202.0 KiB, 202.0 KiB (stage 0.0: task 0))") \
        == pytest.approx(807.9 * 1024)
    assert parse_metric("100,000") == 100000.0
    assert parse_metric("total (min, med, max)\n4.7 s (1.1 s, 1.3 s, 1.3 s)") == 4.7
    assert parse_metric("15 ms") == pytest.approx(0.015)
    assert parse_metric("n/a") is None


def test_tail_keeps_ten_samples_beyond():
    assert tail([1.0] * 10) == (None, None)
    xs = [float(i) for i in range(1, 41)]
    pct, value = tail(xs)
    assert pct == 75.0 and value == 30.0
    assert sum(x > value for x in xs) == 10


def test_p50_by_kind_takes_each_kinds_median():
    got = p50_by_kind([1.0, 9.0, 2.0, 3.0, 8.0, 5.0],
                      ["a", "b", "a", "a", "b", "c"])
    assert got == {"a": 2.0, "b": 8.5, "c": 5.0}


def test_crash_files_move_beside_the_record(tmp_path):
    import run

    work, runs = tmp_path / "work", tmp_path / "runs"
    work.mkdir()
    runs.mkdir()
    (work / "hs_err_pid42.log").write_text("crash")
    (work / "other.log").write_text("kept in place")
    kept = run.keep_crash_files(str(work), str(runs), "ingest-seed1")
    assert len(kept) == 1
    assert (runs / "ingest-seed1-hs_err_pid42.log").read_text() == "crash"
    assert not (work / "hs_err_pid42.log").exists()
    assert (work / "other.log").exists()


def test_benchmark_file_names_what_run_prints():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == {"ingest", "dashboard"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
