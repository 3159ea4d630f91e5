"""Seeded input generator: the same seed writes byte-identical files.

Ingest inputs are JSON-line envelope files built with the package's
fixture encoders (``sources.fixtures``).  The generator records what it
planted, so the lake a drain leaves behind can be checked without Spark.

The query input is a parquet ``lineitem`` table with the schema and value
domains of the repository's testdata tables (TESTDATA.md), written at the
requested row counts.

Everything runs in this one process and thread: plain ``random`` for
envelopes, one ``numpy`` generator for the table.
"""

from __future__ import annotations

import base64
import calendar
import json
import os
import random
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources.fixtures import (
    pimd8_sentence,
    soh_data,
)

# planted shares of the landed records (ingest)
SHARE_SOH, SHARE_SENSOR = 0.90, 0.08          # rest: unknown
SHARE_MALFORMED = 0.02                        # of SOH: payload that fails parsing
SHARE_LATE_DAY = 0.05                         # of parsed SOH: event day before the landing day
SHARE_LOW_SOLAR, SHARE_LOW_BATTERY = 0.06, 0.04  # of parsed SOH: alert thresholds tripped

_LANDING_DAY = calendar.timegm((2023, 11, 14, 0, 0, 0))  # the fixtures' hiveRxTime day
_DAY = 86400


def _b64(s: str) -> str:
    return base64.b64encode(s.encode()).decode()


@dataclass
class Planted:
    """What a drain of landing files must leave in the lake."""

    records: int = 0
    raw: dict[str, int] = field(default_factory=lambda: {"soh": 0, "sensor": 0, "unknown": 0})
    stage: int = 0
    error: int = 0
    alerts: int = 0
    staged_packetids: set[int] = field(default_factory=set)
    event_days: set[tuple[int, int, int]] = field(default_factory=set)

    def __iadd__(self, other: Planted) -> Planted:
        self.records += other.records
        for c, n in other.raw.items():
            self.raw[c] += n
        self.stage += other.stage
        self.error += other.error
        self.alerts += other.alerts
        self.staged_packetids |= other.staged_packetids
        self.event_days |= other.event_days
        return self


def _malformed_soh(rng: random.Random, hour: int) -> str:
    """An SOH payload from_json cannot use: truncated JSON, or a parse
    without the ``d`` epoch that keys the event-day partition."""
    text = base64.b64decode(soh_data(hour)).decode()
    if rng.random() < 0.5:
        return _b64(text[: rng.randint(5, 30)])
    payload = json.loads(text)
    del payload["d"]
    return _b64(json.dumps(payload))


def write_envelopes(path: str, rng: random.Random, records: int, first_pid: int = 1) -> Planted:
    """Land one JSON-line file of ``records`` envelopes at ``path``, with
    packet ids ``first_pid`` onwards."""
    planted = Planted(records=records)
    lines = []
    for pid in range(first_pid, first_pid + records):
        u = rng.random()
        hour = rng.randrange(24)
        if u < SHARE_SOH:
            cls = "soh"
            if rng.random() < SHARE_MALFORMED:
                data = _malformed_soh(rng, hour)
                planted.error += 1
            else:
                day = _LANDING_DAY - (_DAY if rng.random() < SHARE_LATE_DAY else 0)
                low_solar = rng.random() < SHARE_LOW_SOLAR
                low_batt = rng.random() < SHARE_LOW_BATTERY
                data = soh_data(
                    hour,
                    lt=round(rng.uniform(-89.9, 89.9), 4),
                    ln=round(rng.uniform(-179.9, 179.9), 4),
                    sv=10.0 if low_solar else 18.0,
                    bv=3.5 if low_batt else 4.2,
                    d=day,
                )
                planted.stage += 1
                planted.alerts += low_solar or low_batt
                planted.staged_packetids.add(pid)
                planted.event_days.add(tuple(_utc_ymd(day + hour * 3600)))
        elif u < SHARE_SOH + SHARE_SENSOR:
            cls = "sensor"
            if rng.random() < 0.1:
                sentence = "$PIMD9,status,ok"
            else:
                sentence = pimd8_sentence(
                    f"{rng.uniform(0, 89):.2f}", rng.choice("NS"),
                    f"{rng.uniform(0, 179):.2f}", rng.choice("EW"),
                )
            data = _b64(_b64(sentence))
        else:
            cls = "unknown"
            data = _b64(_b64(f"$GPGGA,{rng.randrange(240000):06d},4807.038,N"))
        planted.raw[cls] += 1
        lines.append(json.dumps({
            "recordId": f"rec-{pid:08d}",
            "packetId": pid,
            "deviceType": 1,
            "deviceId": 100 + rng.randrange(500),
            "userApplicationId": 7,
            "organizationId": 42,
            "len": 64,
            "status": 0,
            "hiveRxTime": f"2023-11-14 {hour:02d}:{rng.randrange(60):02d}:00",
            "data": data,
        }))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return planted


def _utc_ymd(epoch: int) -> tuple[int, int, int]:
    t = time.gmtime(epoch)
    return t.tm_year, t.tm_mon, t.tm_mday


# ---------------------------------------------------------------------------
# query input — lineitem with the schema and value domains of the
# testdata tables (uniform keys, 1..7 line numbers, 2-decimal prices, 1995-2001
# ship dates)
# ---------------------------------------------------------------------------


def write_lineitem(path: str, seed: int, lines: int, orders: int, parts: int,
                   suppliers: int) -> None:
    rng = np.random.default_rng(seed)
    pick = lambda values, n: np.array(values)[rng.integers(0, len(values), n)]  # noqa: E731
    n = lines
    table = pa.table({
        "l_orderkey": rng.integers(0, orders, n),
        "l_partkey": rng.integers(0, parts, n),
        "l_suppkey": rng.integers(0, suppliers, n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n),
        "l_linestatus": pick(["F", "O"], n),
        "l_shipdate": np.datetime64("1995-01-02", "us")
        + rng.integers(0, 2500, n).astype("timedelta64[D]"),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
