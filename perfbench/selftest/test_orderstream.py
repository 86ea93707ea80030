"""Order-stream generator: determinism per seed, row classes, the model."""

import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import orderstream  # noqa: E402
from orderstream import model_row  # noqa: E402

UPSERT_SHAPE = dict(redeliver_share=0.1, advance_files_per_day=4, jitter_days=2)


def test_same_seed_same_stream_and_model():
    a = orderstream.generate(7, 6, 50, **UPSERT_SHAPE)
    b = orderstream.generate(7, 6, 50, **UPSERT_SHAPE)
    assert a.files == b.files
    assert (a.enriched, a.invalid, a.corrupt, a.distinct_valid) == (
        b.enriched, b.invalid, b.corrupt, b.distinct_valid
    )
    assert orderstream.generate(8, 6, 50, **UPSERT_SHAPE).files != a.files


def test_model_matches_a_reparse_of_the_lines():
    data = orderstream.generate(3, 10, 100, **UPSERT_SHAPE)
    enriched, invalid, corrupt = Counter(), Counter(), 0
    for _, lines in data.files:
        for line in lines:
            try:
                raw = json.loads(line)
            except json.JSONDecodeError:
                corrupt += 1
                continue
            branch, row = model_row(raw)
            (enriched if branch == "enriched" else invalid)[row] += 1
    assert (enriched, invalid, corrupt) == (data.enriched, data.invalid, data.corrupt)
    assert data.rows == 1000


def test_every_row_class_appears():
    data = orderstream.generate(1, 10, 100)
    messages = " | ".join(m for _, m in data.invalid)
    for part in ("Missing required fields", "Invalid price", "Invalid quantity",
                 "Negative price", "Negative quantity", "; ", "order_date"):
        assert part in messages, part
    assert any(k == "unknown" for k, _ in data.invalid)
    assert data.corrupt > 0
    dates = [row[4] for row in data.enriched]
    assert all(len(d) == 10 and d[4] == "-" for d in dates)
    lines = [line for _, ls in data.files for line in ls]
    assert any('"order_date": "1' in line and "-" not in line.split('"order_date": "')[1][:6]
               for line in lines), "no epoch-days date"


def test_redelivery_repeats_whole_lines_within_the_window():
    data = orderstream.generate(2, 20, 50, **UPSERT_SHAPE)
    counts = Counter(line for _, ls in data.files for line in ls)
    assert sum(n - 1 for n in counts.values()) > 50
    valid_total = sum(data.enriched.values())
    assert len(data.distinct_valid) < valid_total


def test_event_days_advance_with_bounded_jitter():
    data = orderstream.generate(4, 16, 40, advance_files_per_day=4, jitter_days=2)
    for i, (_, lines) in enumerate(data.files):
        for line in lines:
            try:
                raw = json.loads(line)
            except json.JSONDecodeError:
                continue
            d = raw.get("order_date")
            if d is None or d.isdigit():
                continue
            offset = (orderstream.date.fromisoformat(d) - orderstream.START_DAY).days
            assert abs(offset - i // 4) <= 2


def test_model_row_follows_the_validator():
    base = {"order_id": "1", "product_name": "p", "quantity": "3", "price": "2.10",
            "order_date": "2025-11-09"}
    assert model_row(base) == ("enriched", ("1", "p", 3.0, 2.1, "2025-11-09", 6.3))
    assert model_row({**base, "order_date": "20401"})[1][4] == "2025-11-09"
    assert model_row({**base, "price": "xyz", "quantity": "-5"}) == (
        "invalid", ("1", "Invalid price: xyz; Negative quantity: -5")
    )
    missing = {k: v for k, v in base.items() if k not in ("order_id", "price")}
    assert model_row({**missing, "quantity": "abc"}) == (
        "invalid", ("unknown", "Missing required fields: order_id, price")
    )
