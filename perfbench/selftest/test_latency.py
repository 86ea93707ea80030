"""Latency join on a synthetic checkpoint, and the percentile rule."""

import json
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from latency import (  # noqa: E402
    commit_times,
    file_batches,
    file_latencies_ms,
    min_samples,
    percentile,
)

T0 = 1_700_000_000.0


def _log(path: str, entries: list[dict]) -> None:
    with open(path, "w") as f:
        f.write("v1\n" + "".join(json.dumps(e) + "\n" for e in entries))


def _entry(name: str, batch: int) -> dict:
    return {"path": f"file:///data/in/{name}", "timestamp": 0, "batchId": batch}


def _commit(ckpt: str, batch: int, at: float) -> None:
    path = os.path.join(ckpt, "commits", str(batch))
    with open(path, "w") as f:
        f.write('v1\n{"nextBatchWatermarkMs":0}\n')
    os.utime(path, ns=(int(at * 1e9), int(at * 1e9)))


@pytest.fixture
def ckpt(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    (tmp_path / "commits").mkdir()
    # batches 0-1 folded into a compact file, batch 2 plain, batch 3 never
    # committed; .crc side files must be ignored
    _log(src / "1.compact", [_entry("a.json", 0), _entry("b.json", 1), _entry("c.json", 1)])
    _log(src / "2", [_entry("d.json", 2)])
    _log(src / "3", [_entry("e.json", 3)])
    (src / ".2.crc").write_bytes(b"\0")
    _commit(str(tmp_path), 0, T0 + 1.0)
    _commit(str(tmp_path), 1, T0 + 2.5)
    _commit(str(tmp_path), 2, T0 + 4.0)
    (tmp_path / "commits" / ".2.crc").write_bytes(b"\0")
    return str(tmp_path)


def test_file_batches_reads_compact_and_plain_logs(ckpt):
    assert file_batches(ckpt) == {"a.json": 0, "b.json": 1, "c.json": 1, "d.json": 2, "e.json": 3}


def test_commit_times_are_file_mtimes(ckpt):
    assert commit_times(ckpt) == pytest.approx({0: T0 + 1.0, 1: T0 + 2.5, 2: T0 + 4.0})


def test_latency_runs_from_schedule_to_commit(ckpt):
    scheduled = {"a.json": T0, "b.json": T0 + 0.5, "c.json": T0 + 1.5, "d.json": T0 + 3.0,
                 "e.json": T0 + 3.5, "never-read.json": T0 + 3.9}
    lat = file_latencies_ms(ckpt, scheduled)
    assert lat == pytest.approx({"a.json": 1000.0, "b.json": 2000.0, "c.json": 1000.0, "d.json": 1000.0})


def test_missing_checkpoint_gives_no_latencies(tmp_path):
    assert file_latencies_ms(str(tmp_path / "nope"), {"a.json": T0}) == {}


@pytest.mark.parametrize("q,n", [(0.5, 2), (0.9, 10), (0.95, 20), (0.99, 100)])
def test_min_samples_is_the_support_rule(q, n):
    assert min_samples(q) == n
    values = [float(i) for i in range(n)]
    assert percentile(values, q) < max(values)
    with pytest.raises(ValueError):
        percentile(values[:-1], q)


def _reference_hd(values, q, draws=400_000, seed=0):
    """Harrell-Davis by Monte Carlo: the expected order statistic at a
    Beta-distributed rank."""
    x = np.sort(values)
    n = len(x)
    u = np.random.default_rng(seed).beta(q * (n + 1), (1 - q) * (n + 1), draws)
    idx = np.minimum((u * n).astype(int), n - 1)
    return float(x[idx].mean())


@pytest.mark.parametrize("q", [0.5, 0.9, 0.95])
def test_percentile_matches_monte_carlo_harrell_davis(q):
    values = [float(v) ** 1.5 for v in range(1, 41)]
    assert percentile(values, q) == pytest.approx(_reference_hd(values, q), rel=2e-3)


def test_percentile_properties():
    values = [float(v) for v in range(1, 101)]
    assert percentile(values, 0.5) == pytest.approx(50.5)
    assert percentile([7.0] * 30, 0.95) == pytest.approx(7.0)
    assert percentile(values, 0.5) < percentile(values, 0.9) < percentile(values, 0.95) < 100
    assert percentile(list(reversed(values)), 0.95) == percentile(values, 0.95)
