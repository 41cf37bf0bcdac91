"""Generator business rules + determinism (reference
tests/test_data_generator.py tier-2)."""

from __future__ import annotations

import csv
import os
from datetime import datetime, timezone

from spark_streaming_postgres_lab2_spark.sources.datagen import (
    CSV_COLUMNS,
    EventGenerator,
    category_for_product,
)

NOW = datetime(2024, 3, 15, 12, 0, 0, tzinfo=timezone.utc)


def gen(seed=42, **kw):
    return EventGenerator(seed=seed, now=NOW, **kw)


def test_deterministic_under_seed():
    a = gen().generate_batch(50)
    b = gen().generate_batch(50)
    assert a == b


def test_different_seeds_differ():
    assert gen(1).generate_batch(20) != gen(2).generate_batch(20)


def test_purchase_always_has_user():
    events = gen(anomaly_rate=0.0).generate_batch(500)
    for ev in events:
        if ev["event_type"] in ("purchase", "add_to_cart", "wishlist", "remove_from_cart"):
            assert ev["user_id"] is not None


def test_event_type_weights_roughly_hold():
    events = gen(anomaly_rate=0.0).generate_batch(2000)
    views = sum(1 for e in events if e["event_type"] == "view")
    assert 0.40 < views / len(events) < 0.60  # weight 0.50


def test_category_bands():
    assert category_for_product(50) == "electronics"
    assert category_for_product(150) == "clothing"
    assert category_for_product(450) == "books"
    events = gen(anomaly_rate=0.0).generate_batch(300)
    for ev in events:
        assert ev["category"] == category_for_product(ev["product_id"])


def test_non_monetary_events_zero_price():
    events = gen(anomaly_rate=0.0).generate_batch(500)
    for ev in events:
        if ev["event_type"] not in ("purchase", "add_to_cart"):
            assert ev["price"] == 0.0 and ev["quantity"] == 0


def test_session_id_shape():
    events = gen(anomaly_rate=0.0).generate_batch(200)
    bucket = int(NOW.timestamp() // 1800)
    for ev in events:
        if ev["user_id"] is None:
            assert ev["session_id"].startswith(f"guest-{bucket}-")
        else:
            assert ev["session_id"] == f"{ev['user_id']}-{bucket}"


def test_anomaly_injection_rate_and_kinds():
    events = gen(anomaly_rate=0.5).generate_batch(1000)
    kinds = {e.get("_anomaly") for e in events if "_anomaly" in e}
    assert len([e for e in events if "_anomaly" in e]) > 300
    assert kinds <= {"null_user", "negative_price", "future_timestamp",
                     "invalid_event_type", "extreme_price"}


def test_unique_event_ids():
    events = gen().generate_batch(1000)
    ids = [e["event_id"] for e in events]
    assert len(set(ids)) == len(ids)


def test_atomic_csv_write(tmp_path, monkeypatch):
    g = gen()
    events = g.generate_batch(25)
    renamed = []
    real_replace = os.replace

    def replace(src, dst):
        renamed.append(src)
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    path = g.write_csv(events, str(tmp_path), "batch_0001.csv")
    [tmp] = renamed
    # a dot-prefixed temp name is skipped by Spark's file source listing
    assert os.path.dirname(tmp) == str(tmp_path)
    assert os.path.basename(tmp).startswith(".")
    assert os.path.exists(path) and not os.path.exists(tmp)
    with open(path) as fh:
        rows = list(csv.DictReader(fh))
    assert len(rows) == 25
    assert list(rows[0].keys()) == CSV_COLUMNS  # _anomaly never leaks
