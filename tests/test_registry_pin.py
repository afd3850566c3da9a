"""Registry pin: entry names, oracle texts and the order of the gated
entries must match the committed tests/registry_pin.json. Starts no Spark.

The pin maps every registry entry to the sha256 of its oracle SQL (null
for rows-only entries) and lists the first DRIVER_GATE_SIZE names in
order. A change that adds, drops or renames an entry, edits an oracle,
or reorders the gated entries fails here until the pin is edited to match.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

PIN = Path(__file__).resolve().parent / "registry_pin.json"


def _current() -> dict:
    from hadoop_app_spark.queries import DRIVER_GATE_SIZE, REGISTRY

    return {
        "gate": list(REGISTRY)[:DRIVER_GATE_SIZE],
        "oracle_sha256": {
            name: None if q.oracle is None else hashlib.sha256(q.oracle.encode()).hexdigest()
            for name, q in REGISTRY.items()
        },
    }


def test_gate_order_pinned():
    assert _current()["gate"] == json.loads(PIN.read_text())["gate"]


def test_oracles_pinned():
    got = _current()["oracle_sha256"]
    want = json.loads(PIN.read_text())["oracle_sha256"]
    assert sorted(set(got) - set(want)) == [], "entries missing from the pin"
    assert sorted(set(want) - set(got)) == [], "pinned entries missing from REGISTRY"
    changed = sorted(n for n in got if got[n] != want[n])
    assert changed == [], f"oracle text changed: {changed}"

