"""BENCHMARK.json against the metrics the runner prints, the SQL-metric
parser, and the table generator's determinism."""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import metrics  # noqa: E402
from run import WORKLOADS, Context, result_line  # noqa: E402
from sparkstats import parse_metric  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_benchmark_json_names_what_the_runner_prints():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == metrics.PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_has_every_metric(trace):
    ctx = Context("/nonexistent", 1, 1, trace)
    ctx.attempted = 3
    ctx.fail("q: value mismatch", 2)
    line = result_line(ctx)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 3, 2)
    names = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert set(line["metrics"]) == set(names)


@pytest.mark.parametrize(
    "kind,text,value",
    [
        ("size", "total (min, med, max (stageId: taskId))\n1.5 KiB (0.0 B, 512.0 B, 1024.0 B (stage 3.0: task 7))", 1536.0),
        ("size", "total (min, med, max)\n2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB)", 2 * 2**20),
        ("timing", "total (min, med, max (stageId: taskId))\n1.2 s (5 ms, 0.4 s, 0.8 s (stage 1.0: task 2))", 1.2),
        ("timing", "total (min, med, max)\n250 ms (1 ms, 2 ms, 3 ms)", 0.25),
        ("sum", "1,234", 1234.0),
    ],
)
def test_parse_metric(kind, text, value):
    assert parse_metric(kind, text) == pytest.approx(value)


def test_tables_are_deterministic_and_typed():
    a = datagen.build_tables(0.001, 42)
    b = datagen.build_tables(0.001, 42)
    assert set(a) == set(b) and all(a[t].equals(b[t]) for t in a)
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["lineitem"].schema.field("l_shipdate").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert a["lineitem"].num_rows == 4 * a["orders"].num_rows
    docs = a["documents"].column("text").to_pylist()
    assert any(t.endswith(" dup") and t[:-4] in docs for t in docs)
