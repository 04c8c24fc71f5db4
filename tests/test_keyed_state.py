"""The keyed-state core (streaming/keyed_state.py) without Spark.

``FakeState`` stands in for Spark's ``GroupState``, so the state
encoding, the watermark split and the timer rule are checked in-process.
The guard at the end keeps the state cycle in that one module.
"""

from __future__ import annotations

import pathlib
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

from flink_1_8_sourcecode_spark.streaming import keyed_state

SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("name", StringType()),
        StructField("n", LongType()),
    ]
)


class FakeState:
    """The slice of ``GroupState`` the core uses."""

    def __init__(self, value=None, wm_ms=0):
        self.value = value
        self.wm_ms = wm_ms
        self.timeout_ms = None
        self.removed = False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None
        self.removed = True

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms

    def getCurrentWatermarkMs(self):
        return self.wm_ms


def test_empty_blob_decodes_to_typed_empty_frame():
    empty = (keyed_state.frame(SCHEMA, ["ts", "name", "n", "__t"], __t="float64"),)
    want = {"ts": "datetime64[ns]", "name": "object", "n": "int64", "__t": "float64"}
    for state in (FakeState(), FakeState((b"",))):
        (got,) = keyed_state.load(state, empty)
        assert len(got) == 0
        assert {c: str(t) for c, t in got.dtypes.items()} == want


def test_frame_and_packed_fields_round_trip():
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(["2024-01-01 00:00:00.000001", "2024-01-02 12:30:00.000000"]),
            "name": ["a", None],
            "n": pd.array([7, None], dtype="Int64"),
        }
    )
    keys = np.array([2**53, 2**53 + 1, -(2**62)], dtype=np.int64)
    vals = np.array([[0.5, 1.0], [2.0, np.nan], [-3.0, 4.0]])
    state = FakeState(wm_ms=0)
    keyed_state.save(state, (pdf, keyed_state.Packed(keys, vals), 3))
    got_pdf, got_packed, got_n = keyed_state.load(
        state, (keyed_state.frame(SCHEMA, ["ts", "name", "n"]), keyed_state.packed(2), 0)
    )
    pd.testing.assert_frame_equal(got_pdf, pdf)
    assert got_packed.keys.dtype == np.int64
    assert got_packed.keys.tolist() == keys.tolist()  # exact above 2**53
    np.testing.assert_array_equal(got_packed.vals, vals)
    assert got_n == 3


def test_row_at_the_watermark_is_ready():
    wm_ms = 1_700_000_000_000
    t = pd.to_datetime([wm_ms * 1000 + 1, wm_ms * 1000, wm_ms * 1000 - 1000], unit="us")
    pend = pd.DataFrame({"ts": t, "id": [3, 2, 1]})
    ready, keep = keyed_state.split_at_watermark(pend, ["ts", "id"], "ts", wm_ms)
    assert ready["id"].tolist() == [1, 2]  # sorted, the row at wm included
    assert keep["id"].tolist() == [3]
    ready, keep = keyed_state.split_at_watermark(pend.iloc[:0], ["ts"], "ts", wm_ms)
    assert len(ready) == 0 and len(keep) == 0


def test_timer_never_armed_at_or_below_the_watermark():
    rows = pd.DataFrame({"ts": pd.to_datetime([0], unit="s")})
    for wake_ms, want in ((5, 1001), (1000, 1001), (1001, 1001), (5000, 5000)):
        state = FakeState(wm_ms=1000)
        keyed_state.save(state, (rows,), wake_ms)
        assert state.timeout_ms == want
    state = FakeState(wm_ms=1000)
    keyed_state.save(state, (rows,))
    assert state.timeout_ms is None


def test_save_with_nothing_left_removes_the_state():
    empty = (keyed_state.frame(SCHEMA, ["ts"]), keyed_state.packed(2))
    state = FakeState((b"x", b"y"), wm_ms=1000)
    keyed_state.save(state, empty, wake_ms=5000)
    assert state.removed and not state.exists and state.timeout_ms is None
    state = FakeState((b"x", 1))
    keyed_state.save(state, None)
    assert state.removed
    # a scalar field is never "nothing left"
    state = FakeState()
    keyed_state.save(state, (keyed_state.frame(SCHEMA, ["ts"]), 0.0))
    assert state.exists and not state.removed


def test_event_us():
    s = pd.Series(pd.to_datetime(["1970-01-01 00:00:01.000002"]))
    assert keyed_state.event_us(s).tolist() == [1_000_002]


PACKAGE = pathlib.Path(keyed_state.__file__).resolve().parents[1]
# state decode/encode, timer arming, state writes and the operator call
HAND_ROLLED = re.compile(
    r"applyInPandasWithState\(|setTimeoutTimestamp\(|\bstate\.(?:remove|update)\("
    r"|\b(?:pack_f64|unpack_f64|ser|de)\(|arrow_state"
)
KEY_GROUP_HASH = re.compile(r"pmod\(\s*F\.xxhash64")
# hash bucketing that holds no state (sink/retract file layout)
STATELESS_BUCKETING = {"streaming/retract.py", "streaming/sinks.py"}


@pytest.mark.parametrize("pattern", [HAND_ROLLED, KEY_GROUP_HASH], ids=["cycle", "key_groups"])
def test_state_cycle_lives_in_keyed_state(pattern):
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "streaming/keyed_state.py":
            continue
        if pattern is KEY_GROUP_HASH and rel in STATELESS_BUCKETING:
            continue
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if pattern.search(line):
                offenders.append(f"{rel}:{no}: {line.strip()}")
    assert not offenders, "use streaming.keyed_state instead:\n" + "\n".join(offenders)
