"""PLC polling source (SURVEY.md A5) as a PySpark Python DataSource.

The reference polls Siemens S7 PLC memory with snap7's ``read_area``,
one connection per PLC, in hand-rolled process/thread loops
(Linux/InfluxConnector2.py:142-160,197-209,282-302). Here that loop is
one reader (batch: ``polls`` sweeps; stream: ``pollsPerBatch`` sweeps
per micro-batch, offsets ``{"poll": n}``, so restarts come from Spark
checkpointing, A14) over two backends that each sweep one PLC:

- ``format("plc_sim")``: ``Simulator``, deterministic buffers from
  ``simulate_buffer`` (CI has no PLC); poll n is stamped
  2024-01-01T00:00Z + n seconds.
- ``format("plc_s7")``: ``Snap7Poller``, ``read_area`` on the live PLC
  (import-gated); a sweep is stamped with its wall-clock time, as
  InfluxDB stamps the reference's points with server time.

Every ``ts`` is tz-aware UTC, so stored instants do not depend on the
host's time zone. ``s7_read_plan`` maps each tag once, when the reader
is built; a tag the reference skips is read by neither backend.

Replay: a restarted stream re-reads its uncommitted batch through
``readBetweenOffsets``. The simulator reproduces it exactly; a PLC
cannot replay, so snap7 polls again and stores fresh values.

One input partition per PLC (A3's process-per-PLC). A tag is
``[plc_ip, data_type, data_area, address, alias]`` plus an optional
slot, its config's ``<plc slot=…>`` (default 1, the reference's); each
PLC connects with its slot, once per batch partition and once per
stream reader.
"""

from __future__ import annotations

import datetime
import json
import re
import struct
from dataclasses import dataclass
from typing import Iterator, NamedTuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

READING_SCHEMA = (
    "poll bigint, ts timestamp, plc_ip string, alias string, "
    "data_type string, data_area string, address string, bit_off int, buf binary"
)

# Default tag list (mirrors plans.config_plane.CONFIG_ROWS actives).
DEFAULT_TAGS = [
    ("192.168.0.10", "S7WLReal", "S7AreaDB", "DB10.DBD0", "boiler_temp"),
    ("192.168.0.10", "S7WLWord", "S7AreaDB", "DB10.DBW4", "boiler_rpm"),
    ("192.168.0.10", "S7WLBit", "S7AreaPE", "I0.1", "door_open"),
    ("192.168.0.10", "S7WLByte", "S7AreaMK", "M12", "mode_code"),
    ("192.168.0.11", "S7WLReal", "S7AreaPA", "QD16", "valve_pos"),
    ("192.168.0.11", "S7WLBit", "S7AreaDB", "DB5.DBX2.7", "alarm"),
    ("192.168.0.11", "S7WLWord", "S7AreaPE", "IW6", "line_speed"),
    ("192.168.0.12", "S7WLDWord", "S7AreaMK", "MD100", "uptime_s"),
    ("192.168.0.12", "S7WLByte", "S7AreaPA", "QB3", "out_flags"),
]

_EPOCH_BASE = 1704067200  # 2024-01-01T00:00:00Z — deterministic poll clock


def simulate_buffer(data_type: str, alias: str, poll: int) -> bytes:
    """Deterministic snap7-style big-endian buffer for (tag, poll).

    Ramps chosen so every decoded value is exactly representable and
    easy to assert: Real = seed + poll/4, Word = (seed*7 + poll) wrap
    signed, DWord crosses 2³¹, Byte wraps 0..255, Bit alternates.
    """
    seed = sum(ord(c) for c in alias)
    if data_type == "S7WLReal":
        return struct.pack(">f", float(seed) + poll * 0.25)
    if data_type == "S7WLDWord":
        return struct.pack(">I", (2147483000 + seed * 1000 + poll) % (2**32))
    if data_type == "S7WLWord":
        return struct.pack(">H", (seed * 7 + poll * 3) % (2**16))
    if data_type == "S7WLByte":
        return struct.pack(">B", (seed + poll) % 256)
    if data_type == "S7WLBit":
        return struct.pack(">B", 0b10101010 if (poll + seed) % 2 else 0b01010101)
    # Counter/Timer: reference never decodes these — emit junk the
    # null gate (A9) must drop.
    return b"\x00\x00"


def try_snap7_backend():
    """Production backend hook: returns the snap7 module or None.

    Resolved through ``sys.modules`` at call time so tests can inject a
    fake module and exercise the production read path without a PLC.
    """
    try:
        import snap7  # type: ignore

        return snap7
    except ImportError:
        return None


# snap7 protocol constants (public libsnap7 API). Area codes select
# the memory region; the reference hard-codes DB's 132 == 0x84
# (Linux/InfluxConnector2.py:142) and passes the S7WL* word-length
# constant as read_area's 4th argument (:142-160).
S7_AREA_CODES = {
    "S7AreaPE": 0x81,  # process inputs
    "S7AreaPA": 0x82,  # process outputs
    "S7AreaMK": 0x83,  # flags / merker
    "S7AreaDB": 0x84,  # data blocks (== 132)
    "S7AreaCT": 0x1C,  # counters (untested in reference, README.md:49)
    "S7AreaTM": 0x1D,  # timers
}
S7_WORD_LEN = {
    "S7WLBit": 0x01,
    "S7WLByte": 0x02,
    "S7WLWord": 0x04,
    "S7WLDWord": 0x06,
    "S7WLReal": 0x08,
    "S7WLCounter": 0x1C,
    "S7WLTimer": 0x1D,
}


def _address_numbers(address: str) -> list[int]:
    return [int(x) for x in re.findall(r"[0-9]+", address)]


def s7_read_plan(data_type: str, data_area: str, address: str):
    """Map one tag to its exact ``read_area`` argument tuple:
    ``(area_code, db_number, start, word_len, bit_off)`` — or ``None``
    when the reference would skip the tag.

    Mirrors Linux/InfluxConnector2.py:139-170 exactly:
    - DB area consumes digit runs as (db_number, byte_offset[, bit]);
      requires ≥2 numbers, and a Bit REQUIRES exactly 3 (DB5.DBX2.7).
    - PE/PA/MK consume (byte_offset[, bit]); ≥1 number, Bit requires
      exactly 2 (I0.1).
    - Counter/Timer areas and malformed addresses yield None — the
      null gate (A9) drops them downstream.
    """
    nums = _address_numbers(address)
    if data_area not in S7_AREA_CODES or data_type not in S7_WORD_LEN:
        return None
    if data_area == "S7AreaDB":
        if len(nums) < 2:
            return None
        if data_type == "S7WLBit" and len(nums) != 3:
            return None
        db, start = nums[0], nums[1]
        bit = nums[2] if len(nums) > 2 else None
    else:
        if len(nums) < 1:
            return None
        if data_type == "S7WLBit" and len(nums) != 2:
            return None
        db, start = 0, nums[0]
        bit = nums[1] if len(nums) > 1 else None
    return (S7_AREA_CODES[data_area], db, start, S7_WORD_LEN[data_type], bit)


class PlcTag(NamedTuple):
    """One readable tag of a PLC with its ``s7_read_plan`` tuple."""

    data_type: str
    data_area: str
    address: str
    alias: str
    plan: tuple

    def row(self, poll: int, ts, plc_ip: str, buf: bytes) -> tuple:
        """This tag's READING_SCHEMA row."""
        return (poll, ts, plc_ip, self.alias, self.data_type, self.data_area,
                self.address, self.plan[4], buf)


@dataclass
class Plc(InputPartition):
    """One PLC — one input partition: its slot and its readable tags."""

    ip: str
    slot: int
    tags: list[PlcTag]


def plan_fleet(tags) -> list[Plc]:
    """Group tags ``[plc_ip, data_type, data_area, address, alias[,
    slot]]`` by PLC (in ip order), keeping those ``s7_read_plan`` maps."""
    plcs: dict[str, Plc] = {}
    for ip, data_type, data_area, address, alias, *slot in tags:
        plc = plcs.setdefault(ip, Plc(ip, int(slot[0]) if slot else 1, []))
        plan = s7_read_plan(data_type, data_area, address)
        if plan is not None:
            plc.tags.append(PlcTag(data_type, data_area, address, alias, plan))
    return [plcs[ip] for ip in sorted(plcs)]


class Simulator:
    """Simulator backend for ONE PLC: ``simulate_buffer`` per tag,
    poll n stamped 2024-01-01T00:00Z + n seconds."""

    def __init__(self, plc_ip: str, slot: int = 1):
        self.plc_ip = plc_ip

    def sweep(self, tags: list[PlcTag], poll: int) -> list[tuple]:
        ts = datetime.datetime.fromtimestamp(_EPOCH_BASE + poll, datetime.timezone.utc)
        return [
            t.row(poll, ts, self.plc_ip, simulate_buffer(t.data_type, t.alias, poll))
            for t in tags
        ]


class Snap7Poller:
    """snap7 backend for ONE PLC (A3: one connection per PLC).
    Batch-sweeps every tag via ``read_area`` with the reference's
    exact argument mapping; on any read error it disconnects,
    reconnects ``(ip, rack=0, slot)``, and abandons the rest of the
    sweep — the next sweep resumes — which is precisely the reference's
    recovery behavior (Linux/InfluxConnector2.py:187-195).
    """

    def __init__(self, plc_ip: str, slot: int = 1, snap7_module=None):
        snap7 = snap7_module or try_snap7_backend()
        if snap7 is None:
            raise RuntimeError(
                "snap7 backend requested but the snap7 library is not "
                "installed; use the plc_sim simulator backend instead"
            )
        self.plc_ip = plc_ip
        self.slot = slot
        self.client = snap7.client.Client()
        self.client.connect(plc_ip, 0, slot)

    def _reconnect(self):
        self.client.disconnect()
        self.client.connect(self.plc_ip, 0, self.slot)

    def sweep(self, tags: list[PlcTag], poll: int) -> list[tuple]:
        """One pass over this PLC's tags, stamped with the wall-clock
        time the sweep starts."""
        ts = datetime.datetime.now(datetime.timezone.utc)
        rows = []
        for tag in tags:
            area, db, start, word_len, _bit = tag.plan
            try:
                buf = bytes(self.client.read_area(area, db, start, word_len))
            except Exception:  # noqa: BLE001 — any comms error
                self._reconnect()
                break
            rows.append(tag.row(poll, ts, self.plc_ip, buf))
        return rows


def _fleet_from_options(options) -> list[Plc]:
    raw = options.get("tags")
    return plan_fleet(json.loads(raw) if raw else DEFAULT_TAGS)


class PLCBatchReader(DataSourceReader):
    """``polls`` sweeps of every PLC, one partition (and one backend
    connection) per PLC."""

    def __init__(self, options, backend, default_polls: str):
        self.plcs = _fleet_from_options(options)
        self.backend = backend
        self.n_polls = int(options.get("polls", default_polls))

    def partitions(self):
        return self.plcs

    def read(self, partition: Plc) -> Iterator[tuple]:
        source = self.backend(partition.ip, partition.slot)
        for poll in range(self.n_polls):
            yield from source.sweep(partition.tags, poll)


class PLCStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch poll loop: offset = poll counter; each batch is
    ``pollsPerBatch`` sweeps of every PLC (the reference's
    update_items). One backend per PLC lives across triggers; their
    connections close with the reader's process, as Spark gives a
    simple stream reader no stop hook."""

    def __init__(self, options, backend):
        self.plcs = _fleet_from_options(options)
        self.backend = backend
        self.polls_per_batch = int(options.get("pollsPerBatch", "1"))
        self.sources = {}

    def initialOffset(self):
        return {"poll": 0}

    def read(self, start: dict):
        end = {"poll": start["poll"] + self.polls_per_batch}
        return self.readBetweenOffsets(start, end), end

    def readBetweenOffsets(self, start: dict, end: dict):
        rows = []
        for plc in self.plcs:
            if plc.ip not in self.sources:
                self.sources[plc.ip] = self.backend(plc.ip, plc.slot)
            for poll in range(start["poll"], end["poll"]):
                rows.extend(self.sources[plc.ip].sweep(plc.tags, poll))
        return iter(rows)


class PLCSimDataSource(DataSource):
    """format("plc_sim") — the PLC source over the simulator backend."""

    backend = Simulator
    default_polls = "3"

    @classmethod
    def name(cls):
        return "plc_sim"

    def schema(self):
        return READING_SCHEMA

    def reader(self, schema: StructType):
        return PLCBatchReader(self.options, self.backend, self.default_polls)

    def simpleStreamReader(self, schema: StructType):
        return PLCStreamReader(self.options, self.backend)


class PLCSnap7DataSource(PLCSimDataSource):
    """format("plc_s7") — the same source over live PLCs (requires snap7)."""

    backend = Snap7Poller
    default_polls = "1"

    @classmethod
    def name(cls):
        return "plc_s7"


def register(spark) -> None:
    spark.dataSource.register(PLCSimDataSource)
    spark.dataSource.register(PLCSnap7DataSource)
