"""Seeded workload generator.

Everything a run feeds the engine comes from here and depends only on
the seed and the window length: the PLC fleet (written as the
reference's XML config), the dashboard table's micro-batch plan, the
dashboard's panel statements and its refresh schedule. Pure Python, no
Spark, so the self-tests can check determinism without a session.
"""

from __future__ import annotations

import math
import random
import xml.etree.ElementTree as ET
from dataclasses import dataclass

# 2024-01-01T00:00:00Z, the simulator's poll clock (sources.plc).
EPOCH_BASE_S = 1704067200

# (data_type, data_area, address template, weight). Templates take the
# generator's random numbers; Bit addresses carry the bit offset the
# reference parses out of the address.
_VALID_KINDS = (
    ("S7WLReal", "S7AreaDB", "DB{db}.DBD{off}", 4),
    ("S7WLDWord", "S7AreaMK", "MD{off}", 1),
    ("S7WLWord", "S7AreaDB", "DB{db}.DBW{off}", 2),
    ("S7WLWord", "S7AreaPE", "IW{off}", 1),
    ("S7WLByte", "S7AreaPA", "QB{off}", 1),
    ("S7WLBit", "S7AreaDB", "DB{db}.DBX{off}.{bit}", 1),
    ("S7WLBit", "S7AreaPE", "I{off}.{bit}", 1),
)
# Tags the null gate must drop: the reference never decodes Counter or
# Timer reads.
_GATED_KINDS = (
    ("S7WLCounter", "S7AreaCT", "C{off}"),
    ("S7WLTimer", "S7AreaTM", "T{off}"),
)
GATED_SHARE = 0.1

PANEL_KINDS = (
    "ts_panel",
    "multi_series",
    "stat_last",
    "fleet_count",
    "p95",
    "field_keys",
)


@dataclass(frozen=True)
class Tag:
    plc_ip: str
    data_type: str
    data_area: str
    address: str
    alias: str

    @property
    def gated(self) -> bool:
        return self.data_type in ("S7WLCounter", "S7WLTimer")


def fleet(seed: int, n_plcs: int, tags_per_plc: int) -> list[Tag]:
    """N PLCs x M tags with mixed S7 types; about a tenth are gated."""
    rng = random.Random(seed)
    weighted = [k for k in _VALID_KINDS for _ in range(k[3])]
    tags = []
    for p in range(n_plcs):
        ip = f"10.{rng.randrange(256)}.{p // 256}.{p % 256}"
        n_gated = max(1, round(tags_per_plc * GATED_SHARE))
        gated_slots = set(rng.sample(range(tags_per_plc), n_gated))
        for i in range(tags_per_plc):
            nums = {
                "db": rng.randrange(1, 100),
                "off": rng.randrange(0, 512),
                "bit": rng.randrange(8),
            }
            if i in gated_slots:
                dt, area, tmpl = rng.choice(_GATED_KINDS)
            else:
                dt, area, tmpl, _w = rng.choice(weighted)
            alias = f"s{p:03d}_{i:03d}_{dt[4:].lower()}"
            tags.append(Tag(ip, dt, area, tmpl.format(**nums), alias))
    return tags


def fleet_xml(tags: list[Tag]) -> str:
    """The reference's config document: one <plc> per IP, positional
    <data> children, interval 'min' (free-running acquisition)."""
    root = ET.Element("communication")
    by_ip: dict[str, ET.Element] = {}
    for t in tags:
        plc = by_ip.get(t.plc_ip)
        if plc is None:
            plc = by_ip[t.plc_ip] = ET.SubElement(root, "plc", slot="1")
            plc.text = t.plc_ip
        data = ET.SubElement(plc, "data")
        for name, val in (
            ("data_type", t.data_type),
            ("data_area", t.data_area),
            ("data_address", t.address),
            ("data_alias", t.alias),
            ("active", "True"),
            ("interval", "min"),
        ):
            ET.SubElement(data, name).text = val
    return ET.tostring(root, encoding="unicode") + "\n"


def batch_plan(n_polls: int, n_batches: int) -> list[tuple[int, int]]:
    """Split polls [0, n_polls) into contiguous micro-batch ranges."""
    edges = [round(i * n_polls / n_batches) for i in range(n_batches + 1)]
    return [(a, b) for a, b in zip(edges, edges[1:]) if b > a]


@dataclass(frozen=True)
class Panel:
    kind: str
    statement: str
    params: tuple  # sorted (name, value) pairs the statement was built from


def dashboard_panels(seed: int, tags: list[Tag], span_s: int) -> list[Panel]:
    """The six Grafana panels over the table's time range.

    Bounds are aligned to the coarsest GROUP BY bucket (10m) and the
    data covers the whole range, so every bucket holds points and the
    answer does not depend on edge-bucket conventions.
    """
    rng = random.Random(seed * 7919 + 1)
    valid = [t for t in tags if not t.gated]
    series = rng.choice(valid)
    plc = rng.choice(sorted({t.plc_ip for t in valid}))
    tail = rng.choice([t for t in valid if t.data_type in ("S7WLReal", "S7WLWord")])
    lo = EPOCH_BASE_S * 1000
    hi = (EPOCH_BASE_S + span_s) * 1000
    rng_clause = f"time >= {lo}ms AND time < {hi}ms"
    statements = {
        "ts_panel": (
            f"SELECT mean(\"value\") FROM \"points\" WHERE \"plc_ip\" = "
            f"'{series.plc_ip}' AND \"alias\" = '{series.alias}' AND "
            f"{rng_clause} GROUP BY time(1m) fill(null)"
        ),
        "multi_series": (
            f"SELECT max(\"value\") FROM \"points\" WHERE \"plc_ip\" = "
            f"'{plc}' AND {rng_clause} GROUP BY time(5m), \"alias\""
        ),
        "stat_last": (
            f"SELECT last(\"value\") FROM \"points\" WHERE \"plc_ip\" = "
            f"'{plc}' AND {rng_clause} GROUP BY \"alias\""
        ),
        "fleet_count": (
            f"SELECT count(\"value\") FROM \"points\" WHERE {rng_clause} "
            f"GROUP BY \"plc_ip\""
        ),
        "p95": (
            f"SELECT percentile(\"value\", 95) FROM \"points\" WHERE "
            f"\"plc_ip\" = '{tail.plc_ip}' AND \"alias\" = '{tail.alias}' "
            f"AND {rng_clause} GROUP BY time(10m)"
        ),
        # the alias picker. Meta queries follow the reference's data
        # model (measurement = plc_ip, one field per alias), so the
        # aliases are field keys.
        "field_keys": "SHOW FIELD KEYS",
    }
    params = {
        "ts_panel": {"plc_ip": series.plc_ip, "alias": series.alias},
        "multi_series": {"plc_ip": plc},
        "stat_last": {"plc_ip": plc},
        "fleet_count": {},
        "p95": {"plc_ip": tail.plc_ip, "alias": tail.alias},
        "field_keys": {},
    }
    return [
        Panel(k, statements[k], tuple(sorted({**params[k], "lo_ms": lo, "hi_ms": hi}.items())))
        for k in PANEL_KINDS
    ]


def refresh_schedule(seconds: float, interval_s: float) -> list[float]:
    """Open-loop due times of the refreshes that fall in a window of
    ``seconds``, as offsets from its start. A browser fires each
    refresh's panel queries in the dashboard's layout order
    (``PANEL_KINDS``), so every refresh, and every seed, sees the same
    panels wait behind the others."""
    return [i * interval_s for i in range(math.ceil(seconds / interval_s))]
