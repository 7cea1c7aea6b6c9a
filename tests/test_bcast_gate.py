"""Unit tests for the shared hint-broadcast row-cap gate
(operators/_bcast.py) — pure conf logic, no Spark session needed."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bunsen_spark.operators._bcast import (  # noqa: E402
    _REFERENCE_THRESHOLD,
    _threshold_bytes,
    broadcast_row_cap,
)


class _FakeConf:
    def __init__(self, values: dict):
        self._v = values

    def get(self, key, default=None):
        return self._v.get(key, default)


class _FakeSpark:
    def __init__(self, values: dict):
        self.conf = _FakeConf(values)


def test_threshold_parsing_units():
    for raw, expect in [
        ("10485760", 10 * 1024 * 1024),
        ("64mb", 64 * 1024 * 1024),
        ("64MB", 64 * 1024 * 1024),
        ("10m", 10 * 1024 * 1024),
        ("1g", 1024**3),
        ("512kb", 512 * 1024),
        ("-1", -1),
        ("0", 0),
        ("junk", 0),
    ]:
        s = _FakeSpark({"spark.sql.autoBroadcastJoinThreshold": raw})
        assert _threshold_bytes(s) == expect, raw


def test_disabled_threshold_disables_hints():
    for raw in ("-1", "0", "-1b"):
        s = _FakeSpark({"spark.sql.autoBroadcastJoinThreshold": raw})
        assert broadcast_row_cap(s, 4_000_000) == 0


def test_default_scales_with_threshold():
    # at the 64 MB reference threshold the documented default is intact
    s = _FakeSpark({"spark.sql.autoBroadcastJoinThreshold": str(_REFERENCE_THRESHOLD)})
    assert broadcast_row_cap(s, 4_000_000) == 4_000_000
    # a memory-tight cluster at the stock 10 MB threshold gets ~16%
    s = _FakeSpark({"spark.sql.autoBroadcastJoinThreshold": "10485760"})
    cap = broadcast_row_cap(s, 4_000_000)
    assert cap == int(4_000_000 * (10 * 1024 * 1024) / _REFERENCE_THRESHOLD)
    # raising the threshold raises the budget proportionally
    s = _FakeSpark({"spark.sql.autoBroadcastJoinThreshold": "128mb"})
    assert broadcast_row_cap(s, 4_000_000) == 8_000_000
