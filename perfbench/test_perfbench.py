"""Self-tests for the benchmark's pure pieces (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from tracing import Span, parse_metric, plan_metrics, self_times, tail_percentile  # noqa: E402


def test_tail_needs_eleven_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile(list(range(11))) == (9, 0)


def test_tail_leaves_exactly_ten_samples_beyond():
    for n in (11, 20, 37, 100, 1000):
        samples = [float(x) for x in range(n)]
        p, v = tail_percentile(samples)
        assert sum(1 for x in samples if x > v) == 10
        # one percentile higher would leave fewer than ten beyond
        assert (p + 1) * n / 100 > n - 10


def test_tail_known_points():
    assert tail_percentile([float(x) for x in range(1, 101)]) == (90, 90.0)
    assert tail_percentile([float(x) for x in range(1, 21)]) == (50, 10.0)


def _span(sid, name, start, end, parent=None):
    return Span(sid, name, start, end, parent, 0)


def test_self_time_subtracts_children():
    spans = [
        _span(0, "op", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 5.0, 9.0, 0),
        _span(3, "c", 2.0, 3.0, 1),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"op": 3.0, "a": 2.0, "b": 4.0, "c": 1.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, "op", 0.0, 10.0), _span(1, "x", 1.0, 5.0, 0), _span(2, "x", 3.0, 7.0, 0)]
    assert self_times(spans)["op"] == pytest.approx(4.0)


def test_self_time_sums_repeated_names():
    spans = [_span(0, "op", 0.0, 4.0), _span(1, "w", 0.0, 1.0, 0), _span(2, "w", 2.0, 3.5, 0)]
    assert self_times(spans)["w"] == pytest.approx(2.5)


@pytest.mark.parametrize("text,value", [
    ("1,000", 1000.0),
    ("0", 0.0),
    ("236.0 B", 236.0),
    ("3.0 MiB", 3.0 * 2**20),
    ("1.5 GiB", 1.5 * 2**30),
    ("16.2 KiB", 16.2 * 1024),
    ("11 ms", 0.011),
    ("2.5 s", 2.5),
    ("1.2 m", 72.0),
    ("1.0 h", 3600.0),
    ("total (min, med, max (stageId: taskId))\n236.0 B (59.0 B, 59.0 B, 59.0 B (stage 3.0: task 8))", 236.0),
    ("total (min, med, max (stageId: taskId))\n3 ms (0 ms, 0 ms, 3 ms (stage 3.0: task 8))", 0.003),
])
def test_parse_status_store_strings(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_plan_metrics_reads_dot_labels():
    dot = (
        '  2 [id="node2" labelType="html" label="<b>Execute InsertIntoHadoopFsRelationCommand</b>'
        '<br><br>task commit time: 11 ms<br>number of written files: 1<br>written output: 767.0 B"'
        ' tooltip="Execute InsertIntoHadoopFsRelationCommand"];\n'
        '  9 [id="node9" labelType="html" label="<b>Scan parquet </b><br><br>number of files read: 1'
        '<br>scan time: total (min, med, max (stageId: taskId))<br>339 ms (10 ms, 20 ms, 300 ms '
        '(stage 3.0: task 8))<br>number of output rows: 102,000" tooltip="FileScan parquet"];\n'
    )
    got = plan_metrics(dot)
    assert ("Execute InsertIntoHadoopFsRelationCommand", "written output", "767.0 B") in got
    assert ("Scan parquet", "number of output rows", "102,000") in got
    scan = [v for n, m, v in got if m == "scan time"]
    assert len(scan) == 1 and parse_metric(scan[0]) == pytest.approx(0.339)
    assert len(got) == 6


def test_parse_rejects_unknown_units():
    with pytest.raises(ValueError):
        parse_metric("12 parsecs")


def _digests(out, seed):
    out.mkdir()
    for day in (0, 1):
        gen.write_parquet(gen.daily_sessions(seed, day, 200, 50), str(out / f"sessions{day}.parquet"))
    feed = gen.ReadingsFeed(seed, 3, 50, 5)
    gen.write_partitioned(feed.history, str(out / "history"), "day")
    gen.write_parquet(feed.bootstrap_inbox(), str(out / "boot.parquet"))
    for k, t in enumerate(feed.next_delta()):
        gen.write_parquet(t, str(out / f"delta{k}.parquet"))
    gen.catalog_tables(seed, 0.0005, str(out))
    files = sorted(os.path.relpath(os.path.join(d, f), out) for d, _, fs in os.walk(out) for f in fs)
    return {f: hashlib.sha256((out / f).read_bytes()).hexdigest() for f in files}


def test_generator_is_byte_identical_per_seed(tmp_path):
    a = _digests(tmp_path / "a", 7)
    b = _digests(tmp_path / "b", 7)
    c = _digests(tmp_path / "c", 8)
    assert a == b
    assert a.keys() == c.keys()
    # region and nation are fixed dimension tables; everything else is drawn
    assert [f for f in a if a[f] == c[f]] == ["nation.parquet", "region.parquet"]
