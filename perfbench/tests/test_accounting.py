"""File-to-batch latency accounting and the tail-percentile rule."""

import json

import pytest

import common
import streams


def _write_log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def test_file_batches_reads_plain_and_compacted_logs(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    # batches 0..9 compacted into 9.compact, then plain logs
    _write_log(src / "9.compact", [
        {"path": f"file:///in/f-{b:03d}.parquet", "timestamp": 1, "batchId": b} for b in range(10)
    ])
    _write_log(src / "10", [
        {"path": "file:///in/f-010.parquet", "timestamp": 1, "batchId": 10},
        {"path": "file:///in/f-011.parquet", "timestamp": 1, "batchId": 10},
    ])
    (src / ".10.tmp").write_text("partial")
    fb = streams.file_batches(str(tmp_path))
    assert fb["f-003.parquet"] == 3
    assert fb["f-010.parquet"] == 10 and fb["f-011.parquet"] == 10
    assert len(fb) == 12


def test_latency_is_commit_of_reading_batch_minus_schedule():
    scheduled = {"a": 100.0, "b": 100.25, "c": 100.5}
    file_batch = {"a": 7, "b": 7, "c": 8}
    commit = {7: 100.9, 8: 101.3}
    lat = streams.file_latencies(scheduled, file_batch, commit)
    assert lat == pytest.approx([0.9, 0.65, 0.8])


def test_latency_counts_a_late_generator_against_the_pipeline():
    # the file landed 0.2 s after its slot; latency still runs from the slot
    lat = streams.file_latencies({"a": 10.0}, {"a": 1}, {1: 10.7})
    assert lat == pytest.approx([0.7])


def test_latency_needs_every_scheduled_file_in_a_batch():
    with pytest.raises(KeyError):
        streams.file_latencies({"a": 1.0}, {}, {})


@pytest.mark.parametrize("n,p", [(0, 0), (10, 0), (11, 9), (20, 50), (40, 75), (50, 80), (100, 90), (1000, 99)])
def test_tail_percentile_values(n, p):
    assert common.tail_percentile(n) == p


@pytest.mark.parametrize("n", range(11, 400, 7))
def test_tail_percentile_leaves_ten_samples_beyond(n):
    xs = list(range(n))
    p = common.tail_percentile(n)
    v = common.percentile(xs, p)
    assert sum(x > v for x in xs) >= 10
    if p < 99:  # the next percentile would leave fewer than ten
        assert sum(x > common.percentile(xs, p + 1) for x in xs) < 10


def test_steal_share():
    before = [100, 0, 50, 1000, 0, 0, 0, 10, 0, 0]
    after = [200, 0, 100, 1800, 0, 0, 0, 60, 0, 0]
    assert common.steal_share(before, after) == pytest.approx(50 / 1000)
