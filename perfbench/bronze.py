"""Seeded bronze inputs for the ``medallion_etl`` workload.

Crawl files follow the format ``sources.ingest.crawl_batch`` writes (one
JSON array of listing objects per ``crawl_<yyyyMMdd_HHmmss>.json``) with
the fixture shape of FIXTURES.md A1:

* prices in three styles (``"5,25 tỷ"``, ``"5250 triệu"``,
  ``"5250000000"``) plus unparseable ones (``"Thỏa thuận"``);
* dynamic attributes in ``attrs``, some of them missing;
* list_ids re-crawled on later days, and exact duplicates within a file;
* one empty file and one unparseable file.

Price is area times a per-location unit price times noise, so the DAG's
RandomForest R² is a meaningful check. A further batch is served through
fake ``fetch_page``/``fetch_detail`` callables for the DAG's ingest task,
and daily update files (JSON lines, keys unique within a file) feed the
streaming upsert. :class:`BronzeSet` records what a correct pipeline must
produce from all of it.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

#: Locations and their unit price in billion VND per m². ``silver_to_gold``
#: encodes HCM→2, HN→1, anything else→0.
UNIT_PRICE = {"HCM": 0.12, "HN": 0.09, "DN": 0.04}

#: Schema of the daily update files, as a Spark DDL string.
UPDATE_SCHEMA = "list_id STRING, location STRING, area DOUBLE, bedrooms INT, price DOUBLE, day INT"


@dataclass(frozen=True)
class Sizes:
    days: int  # crawl files with listings
    listings_per_day: int
    ingest_listings: int  # served to the DAG's ingest task
    update_days: int  # files for the streaming catch-up
    updates_per_day: int


SIZES = {
    "smoke": Sizes(days=2, listings_per_day=60, ingest_listings=20, update_days=2, updates_per_day=30),
    "bench": Sizes(days=4, listings_per_day=400, ingest_listings=200, update_days=4, updates_per_day=250),
}


@dataclass
class BronzeSet:
    bronze_dir: str
    updates_dir: str
    #: listing objects served by the fake API, in page order
    ingest_rows: list[dict]
    #: list_ids silver and gold must hold (every parseable listing)
    expected_keys: set[str]
    #: bronze rows the reader must quarantine in ``_corrupt_record``
    expected_corrupt: int
    #: list_id -> the latest update row, as the upsert target must hold it
    expected_upsert: dict[str, dict]
    #: parseable listing rows, the ingest batch included
    bronze_rows: int
    update_rows: int
    update_bytes: int = 0
    files: list[str] = field(default_factory=list)

    def fake_api(self):
        """``(fetch_page, fetch_detail)`` serving :attr:`ingest_rows`."""
        by_id = {r["list_id"]: r for r in self.ingest_rows}
        ids = [{"list_id": r["list_id"]} for r in self.ingest_rows]

        def fetch_page(offset: int, limit: int) -> list[dict]:
            return ids[offset : offset + limit]

        def fetch_detail(lid: str) -> dict:
            return by_id[lid]

        return fetch_page, fetch_detail


def _listing(rng: random.Random, lid: str) -> dict:
    loc = rng.choice(("HCM", "HCM", "HN", "HN", "DN"))
    area = rng.randint(30, 250)
    bedrooms = min(6, 1 + area // 45 + rng.randint(0, 1))
    price = area * UNIT_PRICE[loc] * rng.uniform(0.85, 1.15)
    style = rng.random()
    if style < 0.04:
        price_s = rng.choice(("Thỏa thuận", "liên hệ", ""))
    elif style < 0.40:
        price_s = f"{price:.2f}".replace(".", ",") + " tỷ"
    elif style < 0.75:
        price_s = f"{round(price * 1000)} triệu"
    else:
        price_s = str(round(price * 1e9))
    attrs = {
        "Diện tích đất": f"{area} m²",
        "Chiều ngang": f"{rng.randint(3, 12)},{rng.randint(0, 9)} m",
        "Đặc điểm nhà/đất": rng.choice(("Hẻm xe hơi", "Mặt tiền", "Hẻm")),
        "Hướng cửa chính": rng.choice(("Đông", "Tây", "Nam", "Bắc")),
        "Tổng số tầng": str(rng.randint(1, 5)),
        "Số phòng ngủ": str(bedrooms),
        "Số phòng vệ sinh": str(rng.randint(1, 4)),
        "Giấy tờ pháp lý": rng.choice(("Sổ hồng", "Sổ đỏ", "Giấy tay")),
        "Tình trạng nội thất": rng.choice(("Đầy đủ", "Cơ bản", "Không")),
    }
    # the dynamic keys a crawl does not always return (area stays: the
    # model needs it, and the reference's listings always carry it)
    for key in ("Chiều ngang", "Hướng cửa chính", "Số phòng vệ sinh", "Tình trạng nội thất"):
        if rng.random() < 0.15:
            del attrs[key]
    return {
        "list_id": lid,
        "title": f"Bán nhà {area} m² {loc}",
        "price": price_s,
        "address": loc,
        "images": [f"https://img.example/{lid}/{i}.jpg" for i in range(rng.randint(0, 3))],
        "attrs": attrs,
    }


def generate(out_dir: str, seed: int, sizes: Sizes) -> BronzeSet:
    """Write the crawl files and update files under ``out_dir``."""
    rng = random.Random(seed)
    bronze_dir = os.path.join(out_dir, "bronze")
    updates_dir = os.path.join(out_dir, "updates")
    os.makedirs(bronze_dir)
    os.makedirs(updates_dir)
    files, keys, next_id, rows = [], [], 0, 0

    def write(name: str, payload: str) -> None:
        path = os.path.join(bronze_dir, name)
        with open(path, "w", encoding="utf-8") as f:
            f.write(payload)
        files.append(path)

    for day in range(sizes.days):
        batch = []
        for _ in range(sizes.listings_per_day):
            if keys and rng.random() < 0.1:
                lid = rng.choice(keys)  # re-crawled on a later day
            else:
                lid = f"L{seed}-{next_id:07d}"
                next_id += 1
                keys.append(lid)
            batch.append(_listing(rng, lid))
        batch += [dict(r) for r in rng.sample(batch, max(1, len(batch) // 100))]
        rows += len(batch)
        write(f"crawl_202501{day + 1:02d}_0800{day:02d}.json", json.dumps(batch, ensure_ascii=False))
    write("crawl_20250131_000000.json", "")
    write("crawl_20250131_000001.json", '[{"list_id": "broken", "price": ')

    ingest = []
    for _ in range(sizes.ingest_listings):
        lid = f"L{seed}-{next_id:07d}"
        next_id += 1
        keys.append(lid)
        ingest.append(_listing(rng, lid))

    upsert: dict[str, dict] = {}
    upsert_keys: list[str] = []
    update_rows = update_bytes = 0
    for day in range(sizes.update_days):
        todays = set()
        lines = []
        while len(lines) < sizes.updates_per_day:
            if upsert_keys and rng.random() < 0.5:
                lid = rng.choice(upsert_keys)  # a key an earlier day wrote
            else:
                lid = f"U{seed}-{next_id:07d}"
                next_id += 1
                upsert_keys.append(lid)
            if lid in todays:
                continue
            todays.add(lid)
            loc = rng.choice(tuple(UNIT_PRICE))
            area = float(rng.randint(30, 250))
            row = {
                "list_id": lid,
                "location": loc,
                "area": area,
                "bedrooms": rng.randint(1, 6),
                "price": round(area * UNIT_PRICE[loc] * rng.uniform(0.85, 1.15), 4),
                "day": day,
            }
            upsert[lid] = row
            lines.append(json.dumps(row))
        path = os.path.join(updates_dir, f"updates_{day:03d}.json")
        payload = "\n".join(lines) + "\n"
        with open(path, "w") as f:
            f.write(payload)
        # the file source orders files by modification time
        os.utime(path, (1_700_000_000 + day * 60, 1_700_000_000 + day * 60))
        update_rows += len(lines)
        update_bytes += len(payload.encode())

    return BronzeSet(
        bronze_dir=bronze_dir,
        updates_dir=updates_dir,
        ingest_rows=ingest,
        expected_keys=set(keys),
        expected_corrupt=1,
        expected_upsert=upsert,
        bronze_rows=rows + len(ingest),
        update_rows=update_rows,
        update_bytes=update_bytes,
        files=files,
    )
