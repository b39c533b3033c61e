"""The generator is deterministic per seed and shapes the inputs the
workloads promise."""

import xml.etree.ElementTree as ET

from perfbench import gen


def test_same_seed_same_inputs():
    for seed in (0, 1, 977):
        a = gen.fleet(seed, 8, 16)
        b = gen.fleet(seed, 8, 16)
        assert a == b
        assert gen.fleet_xml(a) == gen.fleet_xml(b)
        assert gen.dashboard_panels(seed, a, 600) == gen.dashboard_panels(seed, b, 600)


def test_other_seed_other_inputs():
    assert gen.fleet(1, 8, 16) != gen.fleet(2, 8, 16)
    assert gen.dashboard_panels(1, gen.fleet(1, 8, 8), 600) != gen.dashboard_panels(
        2, gen.fleet(2, 8, 8), 600
    )


def test_fleet_shape():
    tags = gen.fleet(5, 8, 16)
    assert len(tags) == 128
    assert len({t.plc_ip for t in tags}) == 8
    assert len({t.alias for t in tags}) == 128
    gated = [t for t in tags if t.gated]
    # about a tenth must be dropped by the null gate, on every PLC
    assert len(gated) == 16
    assert {t.plc_ip for t in gated} == {t.plc_ip for t in tags}
    assert {t.data_type for t in tags if not t.gated} <= {
        "S7WLReal", "S7WLDWord", "S7WLWord", "S7WLByte", "S7WLBit",
    }


def test_fleet_xml_is_the_reference_shape():
    tags = gen.fleet(3, 2, 4)
    root = ET.fromstring(gen.fleet_xml(tags))
    assert root.tag == "communication"
    rows = []
    for plc in root.findall("plc"):
        for data in plc.findall("data"):
            vals = [c.text for c in data]
            assert [c.tag for c in data] == [
                "data_type", "data_area", "data_address", "data_alias",
                "active", "interval",
            ]
            rows.append((plc.text, vals[0], vals[1], vals[2], vals[3]))
    assert rows == [
        (t.plc_ip, t.data_type, t.data_area, t.address, t.alias) for t in tags
    ]


def test_batch_plan_covers_every_poll_once():
    plan = gen.batch_plan(600, 7)
    assert plan[0][0] == 0 and plan[-1][1] == 600
    assert all(a < b for a, b in plan)
    assert all(b == c for (_, b), (c, _) in zip(plan, plan[1:]))


def test_panels_and_schedule():
    panels = gen.dashboard_panels(4, gen.fleet(4, 8, 8), 600)
    assert [p.kind for p in panels] == list(gen.PANEL_KINDS)
    assert gen.refresh_schedule(12, 2.0) == [0.0, 2.0, 4.0, 6.0, 8.0, 10.0]
    assert gen.refresh_schedule(10, 3.0) == [0.0, 3.0, 6.0, 9.0]
