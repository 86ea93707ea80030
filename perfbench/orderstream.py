"""Seeded raw-order stream for the streaming workloads, and its model.

Pure Python, no Spark. From a seed it builds the JSON-lines files the
file source will read, covering every raw-order row class of the engine's
fixtures (valid with an ISO date, valid with an epoch-days date, missing
fields, non-numeric and negative numbers, several errors at once, invalid
with no date, missing order_id, and unparseable lines), and it builds the
output the pipeline must produce from them:

- `enriched`: the valid rows as the `enriched_orders` branch writes them;
- `invalid`: `(kafka_key, status_message)` of every invalid row;
- `corrupt`: lines the source must drop;
- `distinct_valid`: order_id -> enriched row, the keyed table an upsert
  sink converges to.

With `redeliver_share` > 0 some lines are exact re-deliveries of a line
from the last few files (same order_id, same event time), as a source with
at-least-once delivery produces. With `advance_files_per_day` set, event
dates advance one day per that many files with `jitter_days` of
out-of-order jitter, so a watermark never has to drop a row.

`Dropper` writes the files into a watched directory on a fixed schedule
(open loop: it never waits for the system under test) and records when
each file was due and how late it was actually written.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from collections import Counter
from dataclasses import dataclass, field
from datetime import date, timedelta
from decimal import Decimal

EPOCH = date(1970, 1, 1)
START_DAY = date(2024, 1, 1)
ADJ = ["autonomous", "portable", "modular", "wireless", "compact", "rugged"]
NOUN = ["drone", "sensor", "robot", "actuator", "gateway", "camera"]

#: row class -> weight; every class of the raw-order fixture appears
CLASSES = {
    "valid_iso": 52,
    "valid_epoch": 16,
    "missing_fields": 5,
    "non_numeric": 5,
    "negative": 5,
    "multi_error": 5,
    "invalid_no_date": 4,
    "missing_order_id": 4,
    "corrupt": 4,
}
REQUIRED = ["order_id", "product_name", "quantity", "price", "order_date"]


@dataclass
class StreamData:
    files: list[tuple[str, list[str]]] = field(default_factory=list)
    enriched: Counter = field(default_factory=Counter)
    invalid: Counter = field(default_factory=Counter)
    corrupt: int = 0
    distinct_valid: dict = field(default_factory=dict)

    @property
    def rows(self) -> int:
        return sum(len(lines) for _, lines in self.files)


def _to_double(s):
    """try_cast(string AS double) for the strings this generator emits."""
    try:
        return float(s)
    except (TypeError, ValueError):
        return None


def model_row(raw: dict) -> tuple[str, tuple]:
    """Route one parsed raw order exactly as validate_and_enrich + route
    do: ('enriched', row) or ('invalid', (kafka_key, status_message))."""
    missing = [f for f in REQUIRED if raw.get(f) is None]
    price_d, qty_d = _to_double(raw.get("price")), _to_double(raw.get("quantity"))
    errors = []
    if price_d is None:
        if raw.get("price") is not None:
            errors.append(f"Invalid price: {raw['price']}")
    elif price_d < 0:
        errors.append(f"Negative price: {raw['price']}")
    if qty_d is None:
        if raw.get("quantity") is not None:
            errors.append(f"Invalid quantity: {raw['quantity']}")
    elif qty_d < 0:
        errors.append(f"Negative quantity: {raw['quantity']}")
    # a null field gives a null message part, which concat_ws skips
    key = raw.get("order_id") or "unknown"
    if missing:
        return "invalid", (key, "Missing required fields: " + ", ".join(missing))
    if errors:
        return "invalid", (key, "; ".join(errors))
    d = raw["order_date"]
    if d.isdigit():
        d = (EPOCH + timedelta(days=int(d))).isoformat()
    # round(quantity * price, 2) of 2-decimal inputs is the exact product
    total = float(Decimal(raw["quantity"]) * Decimal(raw["price"]))
    return "enriched", (raw["order_id"], raw["product_name"], qty_d, price_d, d, total)


def _raw_order(rng: random.Random, cls: str, order_id: str, day: date) -> dict | None:
    """One raw order of class `cls`; None for an unparseable line."""
    qty = str(rng.randint(1, 100))
    price = f"{rng.randint(10000, 200000) / 100:.2f}"
    o = {
        "order_id": order_id,
        "product_name": f"{rng.choice(ADJ)} {rng.choice(NOUN)}",
        "quantity": qty,
        "price": price,
        "order_date": day.isoformat(),
    }
    if cls == "valid_epoch":
        o["order_date"] = str((day - EPOCH).days)
    elif cls == "missing_fields":
        for f in rng.sample(["product_name", "quantity", "price"], rng.randint(1, 2)):
            del o[f]
    elif cls == "non_numeric":
        o[rng.choice(["quantity", "price"])] = rng.choice(["abc", "n/a", "1,5"])
    elif cls == "negative":
        o[rng.choice(["quantity", "price"])] = "-" + rng.choice([qty, price])
    elif cls == "multi_error":
        o["quantity"], o["price"] = "-" + qty, "xyz"
    elif cls == "invalid_no_date":
        del o["order_date"]
        o["price"] = "bad"
    elif cls == "missing_order_id":
        del o["order_id"]
    elif cls == "corrupt":
        return None
    if rng.random() < 0.2:
        o["id"] = str(rng.randint(1, 10**6))  # json-server ride-along id
    return o


def generate(
    seed: int,
    n_files: int,
    rows_per_file: int,
    prefix: str = "orders",
    redeliver_share: float = 0.0,
    redeliver_window: int = 4,
    advance_files_per_day: int | None = None,
    jitter_days: int = 0,
) -> StreamData:
    rng = random.Random(seed)
    classes, weights = zip(*CLASSES.items())
    data = StreamData()
    recent: list[list[tuple]] = []  # (line, routed row) of the last files
    next_id = 0
    for i in range(n_files):
        rows: list[tuple] = []
        for _ in range(rows_per_file):
            if recent and rng.random() < redeliver_share:
                rows.append(rng.choice(rng.choice(recent)))
                continue
            if advance_files_per_day:
                day = START_DAY + timedelta(
                    days=i // advance_files_per_day + rng.randint(-jitter_days, jitter_days)
                )
            else:
                day = date(2000, 1, 1) + timedelta(days=rng.randint(0, 9000))
            cls = rng.choices(classes, weights)[0]
            next_id += 1
            raw = _raw_order(rng, cls, f"{prefix}-{seed}-{next_id}", day)
            if raw is None:
                rows.append(('{"order_id": "%s-%d", "price": "1' % (prefix, next_id), None))
            else:
                rows.append((json.dumps(raw), model_row(raw)))
        for _, routed in rows:
            if routed is None:
                data.corrupt += 1
            elif routed[0] == "enriched":
                data.enriched[routed[1]] += 1
                data.distinct_valid[routed[1][0]] = routed[1]
            else:
                data.invalid[routed[1]] += 1
        data.files.append((f"{prefix}-{i:05d}.json", [line for line, _ in rows]))
        recent = (recent + [rows])[-redeliver_window:]
    return data


def write_file(directory: str, staging: str, name: str, lines: list[str]) -> None:
    """Write atomically: the source never sees a partial file."""
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(directory, name))


class Dropper:
    """Open-loop file generator: file k is due at start + k / rate and is
    written then, whether or not the consumer keeps up."""

    def __init__(self, data: StreamData, directory: str, staging: str, files_per_s: float):
        self.data = data
        self.directory = directory
        self.staging = staging
        self.period = 1.0 / files_per_s
        self.scheduled: dict[str, float] = {}
        self.written: dict[str, float] = {}
        self.late_ms: list[float] = []
        self._thread: threading.Thread | None = None
        self.error: BaseException | None = None

    def _run(self, start: float) -> None:
        try:
            for k, (name, lines) in enumerate(self.data.files):
                due = start + k * self.period
                wait = due - time.time()
                if wait > 0:
                    time.sleep(wait)
                write_file(self.directory, self.staging, name, lines)
                done = time.time()
                self.scheduled[name] = due
                self.written[name] = done
                self.late_ms.append(max(done - due, 0.0) * 1000.0)
        except BaseException as e:  # reported by join()
            self.error = e

    def start(self) -> None:
        start = time.time()
        self._thread = threading.Thread(target=self._run, args=(start,), daemon=True)
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join()
        if self.error is not None:
            raise self.error
