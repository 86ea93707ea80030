"""End-to-end Structured Streaming: JSON order lines in, two-way split
parquet out, exactly the reference's §3.2 processing path, plus the
idempotent K2 upsert sink."""

import json
from collections import Counter

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from streamprocessing_with_kafka_spark.streaming import pipeline
from streamprocessing_with_kafka_spark.streaming.pipeline import start_file_pipeline
from streamprocessing_with_kafka_spark.streaming.sinks import parquet_upsert_sink


def _write_orders(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write((json.dumps(r) if isinstance(r, dict) else r) + "\n")


def test_file_pipeline_end_to_end(spark, tmp_path):
    inp, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    inp.mkdir()
    _write_orders(
        inp / "batch1.json",
        [
            {"order_id": "155", "product_name": "Autonomous Mobile Robot - WASP",
             "quantity": "2", "price": "200", "order_date": "2025-11-09"},
            {"order_id": "9", "product_name": "widget", "quantity": "3",
             "price": "0.5", "order_date": "20401"},
            {"order_id": "10", "product_name": "bad", "quantity": "abc",
             "price": "10"},  # poison pill: invalid AND missing order_date
            '{"broken json',  # corrupt record: counted and dropped
        ],
    )
    q = start_file_pipeline(spark, str(inp), str(out), str(ckpt))
    q.awaitTermination(120)

    enriched = {
        r["order_id"]: r.asDict()
        for r in spark.read.parquet(str(out / "enriched_orders")).collect()
    }
    invalid = {
        r["order_id"]: r.asDict()
        for r in spark.read.parquet(str(out / "invalid_orders")).collect()
    }
    assert enriched["155"]["total_price"] == 400.0
    assert enriched["9"]["order_date"] == "2025-11-09"  # epoch-days fixed up
    assert enriched["9"]["total_price"] == 1.5
    # ST4 fix: the poison pill landed in the dead-letter branch
    assert invalid["10"]["status_message"] == (
        "Missing required fields: order_date"
    )
    # corrupt line dropped, everything else accounted for
    assert len(enriched) + len(invalid) == 3


def test_incremental_batches_no_reprocessing(spark, tmp_path):
    """ST1: a second file is picked up incrementally; checkpoint prevents
    re-emitting batch 1 rows."""
    inp, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    inp.mkdir()
    _write_orders(inp / "a.json", [{"order_id": "1", "product_name": "x",
                                    "quantity": "1", "price": "10",
                                    "order_date": "2024-01-01"}])
    start_file_pipeline(spark, str(inp), str(out), str(ckpt)).awaitTermination(120)
    _write_orders(inp / "b.json", [{"order_id": "2", "product_name": "y",
                                    "quantity": "2", "price": "10",
                                    "order_date": "2024-01-02"}])
    start_file_pipeline(spark, str(inp), str(out), str(ckpt)).awaitTermination(120)
    got = spark.read.parquet(str(out / "enriched_orders"))
    assert sorted(r["order_id"] for r in got.collect()) == ["1", "2"]


def test_upsert_sink_idempotent_with_tombstones(spark, tmp_path):
    """K2: replaying the same batch converges (idempotence); tombstone
    (null total_price) deletes by key."""
    state = str(tmp_path / "state")
    sink = parquet_upsert_sink(spark, state, "order_id")
    b1 = spark.createDataFrame(
        [("1", 10.0), ("2", 20.0)], "order_id string, total_price double"
    )
    sink(b1, 0)
    sink(b1, 0)  # replay -- must not duplicate
    rows = {r["order_id"]: r["total_price"]
            for r in spark.read.parquet(f"{state}/data").collect()}
    assert rows == {"1": 10.0, "2": 20.0}

    b2 = spark.createDataFrame(
        [("1", 11.0), ("2", None), ("3", 30.0)], "order_id string, total_price double"
    )
    sink(b2, 1)
    rows = {r["order_id"]: r["total_price"]
            for r in spark.read.parquet(f"{state}/data").collect()}
    assert rows == {"1": 11.0, "3": 30.0}  # 2 tombstoned away
    assert not list((tmp_path / "state").glob("tmp_*"))  # staging removed


def test_degenerate_batches_route_to_dead_letter(spark, tmp_path):
    """Degenerate-input streaming twin of tests/test_empty_inputs.py:
    an empty batch file, an empty JSON object, and a record with every
    field explicitly null must flow through the pipeline -- validator
    -> router -> sinks -- without crashing, with the degenerate records
    dead-lettered (T1/ST4 contract), never silently dropped."""
    inp, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    inp.mkdir()
    (inp / "empty.json").write_text("")  # zero-byte batch
    _write_orders(
        inp / "degenerate.json",
        [
            {},  # no fields at all
            {"order_id": None, "product_name": None, "quantity": None,
             "price": None, "order_date": None},  # explicit nulls
            {"order_id": "77", "product_name": "ok", "quantity": "1",
             "price": "2", "order_date": "2025-01-01"},  # control row
        ],
    )
    q = start_file_pipeline(spark, str(inp), str(out), str(ckpt))
    q.awaitTermination(120)

    enriched = spark.read.parquet(str(out / "enriched_orders")).collect()
    invalid = spark.read.parquet(str(out / "invalid_orders")).collect()
    assert [r["order_id"] for r in enriched] == ["77"]
    # both degenerate records are dead-lettered with a reason, not dropped
    assert len(invalid) == 2
    assert all(r["status_message"].startswith("Missing required fields")
               for r in invalid)


def _order(i, valid=True):
    return {"order_id": str(i), "product_name": f"p{i}",
            "quantity": "2" if valid else "-1", "price": "10",
            "order_date": "2024-01-01"}


def _branches(spark, out):
    """Each branch's rows with their multiplicity."""
    return {
        b: Counter(tuple(r) for r in spark.read.parquet(str(out / b)).collect())
        for b in ("enriched_orders", "invalid_orders")
    }


def _fail_once_after(fn, n=1):
    """`fn` whose `n`-th call completes and then raises."""
    calls = []

    def wrapper(*args, **kwargs):
        result = fn(*args, **kwargs)
        calls.append(1)
        if len(calls) == n:
            raise RuntimeError("injected fault")
        return result

    return wrapper


def _assert_replay_matches_crash_free(spark, tmp_path, inject):
    """Runs the same input crash-free, then with `inject()` applied: the
    first attempt at the batch must fail, and a restart from the same
    checkpoint must leave both branches equal to the crash-free run."""
    inp = tmp_path / "in"
    inp.mkdir()
    # two files -> two write tasks, so each branch publishes several files
    _write_orders(inp / "a.json", [_order(i, i % 3 != 0) for i in range(20)])
    _write_orders(inp / "b.json", [_order(i, i % 4 != 0) for i in range(20, 40)])
    start_file_pipeline(
        spark, str(inp), str(tmp_path / "clean"), str(tmp_path / "ckpt_clean")
    ).awaitTermination(120)

    inject()
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    with pytest.raises(StreamingQueryException, match="injected fault"):
        start_file_pipeline(spark, str(inp), str(out), str(ckpt)).awaitTermination(120)
    q = start_file_pipeline(spark, str(inp), str(out), str(ckpt))
    q.awaitTermination(120)
    assert q.exception() is None
    want = _branches(spark, tmp_path / "clean")
    assert sum(want["enriched_orders"].values()) == 28
    assert sum(want["invalid_orders"].values()) == 12
    assert _branches(spark, out) == want


def test_split_replay_after_first_write_fails(spark, tmp_path, monkeypatch):
    """The batch's first parquet write completes, then the batch fails;
    the replayed batch adds no duplicate and loses no row."""

    def inject():
        monkeypatch.setattr(
            DataFrameWriter, "parquet", _fail_once_after(DataFrameWriter.parquet)
        )

    _assert_replay_matches_crash_free(spark, tmp_path, inject)


@pytest.mark.parametrize("published", [1, 2])
def test_split_replay_after_publish(spark, tmp_path, monkeypatch, published):
    """The batch fails after publishing one branch (partway through the
    publish) or both (before its commit): the replay replaces the files
    already published and publishes the rest."""

    def inject():
        monkeypatch.setattr(
            pipeline,
            "publish_branch",
            _fail_once_after(pipeline.publish_branch, published),
        )

    _assert_replay_matches_crash_free(spark, tmp_path, inject)


def test_all_valid_input_leaves_empty_invalid_branch_readable(spark, tmp_path):
    """A branch that never got a row still reads as 0 rows with the
    branch's columns, and later batches do not add more empty files."""
    inp, out, ckpt = tmp_path / "in", tmp_path / "out", tmp_path / "ckpt"
    inp.mkdir()
    _write_orders(inp / "a.json", [_order(1), _order(2)])
    start_file_pipeline(spark, str(inp), str(out), str(ckpt)).awaitTermination(120)
    _write_orders(inp / "b.json", [_order(3)])
    start_file_pipeline(spark, str(inp), str(out), str(ckpt)).awaitTermination(120)

    enriched = spark.read.parquet(str(out / "enriched_orders"))
    invalid = spark.read.parquet(str(out / "invalid_orders"))
    assert enriched.count() == 3
    assert invalid.count() == 0
    assert invalid.schema == enriched.schema
    assert len(list((out / "invalid_orders").glob("*.parquet"))) == 1
