"""File-drop to batch-commit latency, joined from a streaming checkpoint.

A file source's checkpoint records which files each micro-batch read
(`sources/0/<batch>` and the periodic `sources/0/<batch>.compact`, one
JSON entry per file with its `batchId`) and marks each finished batch with
`commits/<batch>`, whose modification time is the commit time. A file's
latency is that commit time minus the time the generator was *due* to drop
the file, so a stalled generator or a backlog both show up as latency.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np


def file_batches(checkpoint: str) -> dict[str, int]:
    """Basename of every file the source has read -> its batch id."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for entry in os.listdir(log_dir):
        stem = entry[: -len(".compact")] if entry.endswith(".compact") else entry
        if not stem.isdigit():
            continue  # .crc side files and in-flight temp files
        with open(os.path.join(log_dir, entry)) as f:
            for line in f.read().splitlines()[1:]:  # first line is the version
                if line.strip():
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> commit time (seconds since the epoch)."""
    log_dir = os.path.join(checkpoint, "commits")
    if not os.path.isdir(log_dir):
        return {}
    return {
        int(e): os.stat(os.path.join(log_dir, e)).st_mtime_ns / 1e9
        for e in os.listdir(log_dir)
        if e.isdigit()
    }


def file_latencies_ms(checkpoint: str, scheduled: dict[str, float]) -> dict[str, float]:
    """File basename -> milliseconds from its scheduled drop to the commit
    of the batch that read it. Files never read, or read by a batch that
    never committed, are absent from the result."""
    batches = file_batches(checkpoint)
    commits = commit_times(checkpoint)
    out = {}
    for name, due in scheduled.items():
        b = batches.get(name)
        if b is not None and b in commits:
            out[name] = (commits[b] - due) * 1000.0
    return out


def min_samples(q: float) -> int:
    """Smallest sample count n with (1 - q) * (n + 1) > 1, i.e. n >= 1 / (1 - q):
    the nearest-rank q-quantile then has at least one sample above it, and
    the Harrell-Davis weights below stay finite at both ends. A phase
    that reports a percentile draws at least this many samples."""
    return math.ceil(round(1.0 / (1.0 - q), 9))


def percentile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile (0 < q < 1): the mean of
    the order statistics weighted by a Beta(q(n+1), (1-q)(n+1)) density.
    It uses the samples around the quantile rather than one of them, so
    a tail percentile moves far less from run to run than the nearest
    rank. Raises ValueError below `min_samples(q)`."""
    if len(values) < min_samples(q):
        raise ValueError(f"{len(values)} samples cannot support the {q:.0%} percentile")
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    steps = 256  # integration steps per order statistic
    grid = np.linspace(0.0, 1.0, steps * n + 1)[1:-1]
    log_pdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    pdf = np.concatenate([[0.0], np.exp(log_pdf - log_pdf.max()), [0.0]])
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    weights = np.diff(cdf[::steps]) / cdf[-1]
    return float(weights @ x)
