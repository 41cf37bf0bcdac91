"""Seedable e-commerce event generator (test-harness surface).

Parity target: reference data_generator/data_generator.py (§2.9 of
SURVEY.md): weighted event types 50/10/15/5/10/10 (:44-45),
login-required actions always carry user_id while view/search are 10%
anonymous (:103-114), category-banded product ids and price ranges
(:48-63,127-137), 5% late events 1-10 min old (:139-144), search
queries from a 6-word pool (:147-150), 2% anomaly injection across 5
types (:169-188), session id = ``{user_id}-{floor(now/1800)}`` or a
guest bucket (:81-88), atomic CSV writes via temp+rename (:201-219).

Fully deterministic under a seed + injectable clock so tests replay
byte-identical inputs."""

from __future__ import annotations

import csv
import os
import random
import uuid
from datetime import datetime, timedelta, timezone
from typing import Any

EVENT_TYPES = ["view", "purchase", "add_to_cart", "remove_from_cart", "wishlist", "search"]
EVENT_WEIGHTS = [0.50, 0.10, 0.15, 0.05, 0.10, 0.10]
USER_REQUIRED = {"purchase", "add_to_cart", "wishlist", "remove_from_cart"}

# product_id bands of 100 per category; category-specific price ranges
CATEGORY_BANDS = [
    ("electronics", (1, 100), (50.0, 2000.0)),
    ("clothing", (101, 200), (10.0, 200.0)),
    ("home_garden", (201, 300), (20.0, 500.0)),
    ("sports", (301, 400), (15.0, 300.0)),
    ("books", (401, 500), (5.0, 50.0)),
]

USER_SEGMENTS = ["new", "returning", "premium", "inactive"]
SEGMENT_WEIGHTS = [0.20, 0.50, 0.15, 0.15]

SEARCH_POOL = ["laptop", "shoes", "garden", "bike", "novel", "phone"]

ANOMALY_TYPES = [
    "null_user",
    "negative_price",
    "future_timestamp",
    "invalid_event_type",
    "extreme_price",
]

CSV_COLUMNS = [
    "event_id",
    "user_id",
    "session_id",
    "event_type",
    "product_id",
    "category",
    "price",
    "quantity",
    "user_segment",
    "search_query",
    "event_time",
    "source_system",
]


def category_for_product(product_id: int) -> str:
    for name, (lo, hi), _ in CATEGORY_BANDS:
        if lo <= product_id <= hi:
            return name
    return "unknown"


class EventGenerator:
    def __init__(
        self,
        seed: int = 42,
        anomaly_rate: float = 0.02,
        late_rate: float = 0.05,
        now: datetime | None = None,
    ):
        self.rng = random.Random(seed)
        self.anomaly_rate = anomaly_rate
        self.late_rate = late_rate
        self._fixed_now = now

    def _now(self) -> datetime:
        return self._fixed_now or datetime.now(timezone.utc)

    def _session_id(self, user_id: int | None, now: datetime) -> str:
        bucket = int(now.timestamp() // 1800)
        if user_id is None:
            return f"guest-{bucket}-{self.rng.randint(1000, 9999)}"
        return f"{user_id}-{bucket}"

    def generate_event(self) -> dict[str, Any]:
        rng = self.rng
        now = self._now()
        event_type = rng.choices(EVENT_TYPES, weights=EVENT_WEIGHTS, k=1)[0]

        # login-required actions always have a user; view/search 10% anonymous
        if event_type in USER_REQUIRED:
            user_id: int | None = rng.randint(1, 1000)
        else:
            user_id = None if rng.random() < 0.10 else rng.randint(1, 1000)

        product_id = rng.randint(1, 500)
        category = category_for_product(product_id)
        price_range = next(pr for name, _, pr in CATEGORY_BANDS if name == category)
        if event_type in ("purchase", "add_to_cart"):
            price = round(rng.uniform(*price_range), 2)
            quantity = rng.randint(1, 5) if event_type == "purchase" else rng.randint(1, 3)
        else:
            price, quantity = 0.0, 0

        event_time = now
        if rng.random() < self.late_rate:
            event_time = now - timedelta(minutes=rng.randint(1, 10))

        event = {
            "event_id": str(uuid.UUID(int=rng.getrandbits(128), version=4)),
            "user_id": user_id,
            "session_id": self._session_id(user_id, now),
            "event_type": event_type,
            "product_id": product_id,
            "category": category,
            "price": price,
            "quantity": quantity,
            "user_segment": (
                "anonymous"
                if user_id is None
                else rng.choices(USER_SEGMENTS, weights=SEGMENT_WEIGHTS, k=1)[0]
            ),
            "search_query": rng.choice(SEARCH_POOL) if event_type == "search" else "",
            "event_time": event_time.strftime("%Y-%m-%dT%H:%M:%S"),
            "source_system": "web",
        }

        if rng.random() < self.anomaly_rate:
            self._inject_anomaly(event, now)
        return event

    def _inject_anomaly(self, event: dict[str, Any], now: datetime) -> None:
        kind = self.rng.choice(ANOMALY_TYPES)
        if kind == "null_user":
            event["user_id"] = None
        elif kind == "negative_price":
            event["price"] = -abs(event["price"]) or -1.0
        elif kind == "future_timestamp":
            event["event_time"] = (now + timedelta(days=1)).strftime("%Y-%m-%dT%H:%M:%S")
        elif kind == "invalid_event_type":
            event["event_type"] = "INVALID_TYPE"
        elif kind == "extreme_price":
            event["price"] = 99999.99
        event["_anomaly"] = kind  # stripped before write; test hook

    def generate_batch(self, n: int) -> list[dict[str, Any]]:
        return [self.generate_event() for _ in range(n)]

    def write_csv(self, events: list[dict[str, Any]], out_dir: str, filename: str) -> str:
        """Atomic CSV write (temp + os.replace) so a streaming reader
        never observes a partial file (reference G:201-219).  The temp
        file is dot-prefixed: Spark's file source skips such names, so a
        listing that falls between the write and the rename cannot
        admit it."""
        os.makedirs(out_dir, exist_ok=True)
        final = os.path.join(out_dir, filename)
        tmp = os.path.join(out_dir, f".{filename}.tmp")
        with open(tmp, "w", newline="") as fh:
            writer = csv.DictWriter(fh, fieldnames=CSV_COLUMNS, extrasaction="ignore")
            writer.writeheader()
            for ev in events:
                row = {k: ("" if ev.get(k) is None else ev.get(k)) for k in CSV_COLUMNS}
                writer.writerow(row)
        os.replace(tmp, final)
        return final
