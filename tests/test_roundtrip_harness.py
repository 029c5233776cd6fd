"""The shared checking half of the connector roundtrip queries:
``_roundtrip`` audits every delivered message against the fixture and
aggregates what was delivered; ``_spool_readback`` reads a message-log
spool back for it. A fake in-process transport plants one fault per
test, so each audit category is shown to name its message without
sockets or a broker."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from hazelcast_jet_contrib_spark.queries_connectors import (
    _roundtrip,
    _spool_readback,
)
from hazelcast_jet_contrib_spark.streaming.message_log import append_segment

ROWS = [(1, "a", 1.5), (2, "a", 2.25), (3, "b", -0.5)]
COLUMNS = ["grp", "n", "total", "lo", "hi"]


def _spool_select():
    """Spool records carry the group as the record key, (id, v) as JSON."""
    return [
        F.get_json_object("value", "$.id").cast("long"),
        "key",
        F.get_json_object("value", "$.v").cast("double"),
    ]


def _run(spark, transport):
    fixture = spark.createDataFrame(ROWS, "k long, g string, v double")
    return _roundtrip(spark, "harness", fixture, transport, COLUMNS, 1000)


def _write_spool(root, rows):
    for k, g, v in rows:
        append_segment(root, g, [{"key": g, "value": json.dumps({"id": k, "v": v})}])


def test_clean_transport_returns_the_aggregate(spark):
    out = _run(spark, lambda rows: list(rows))
    assert out.columns == COLUMNS
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", 2, 1500 + 2250, 1, 2),
        ("b", 1, -500, 3, 3),
    ]


def test_lost_message_is_named_missing(spark):
    with pytest.raises(RuntimeError, match=r"1 missing \[2\]"):
        _run(spark, lambda rows: [r for r in rows if r[0] != 2])


def test_duplicated_message_is_named_duplicated(spark):
    with pytest.raises(RuntimeError, match=r"1 duplicated \[3\]"):
        _run(spark, lambda rows: rows + [rows[2]])


def test_mis_keyed_message_is_named_unknown_key(spark):
    with pytest.raises(RuntimeError, match=r"1 unknown-key \[99\]"):
        _run(spark, lambda rows: rows[:2] + [(99, "b", -0.5)])


def test_changed_payload_is_named_corrupted(spark):
    with pytest.raises(RuntimeError, match=r"1 corrupted \[1\]"):
        _run(spark, lambda rows: [(1, "a", 1.25)] + rows[1:])


def test_spool_record_in_unexpected_stream_is_unknown_key(spark, tmp_path):
    root = str(tmp_path)

    def transport(rows):
        _write_spool(root, rows + [(77, "stray", 4.0)])
        return _spool_readback(spark, root, _spool_select(), len(rows))

    with pytest.raises(RuntimeError, match=r"1 unknown-key \[77\]") as err:
        _run(spark, transport)
    assert "0 missing" in str(err.value)


def test_empty_spool_names_every_message_missing(spark, tmp_path):
    for root in (tmp_path, tmp_path / "never-created"):
        with pytest.raises(RuntimeError, match="all 3 posted messages are missing"):
            _spool_readback(spark, str(root), _spool_select(), 3)
