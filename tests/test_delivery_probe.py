"""Probes the repo's own exactly-once machinery the way the reference's
XA probes test H2/ActiveMQ (JdbcXaTest.java:62-97): write an epoch,
disconnect, reconnect as a new incarnation, replay the epoch, and
require marker durability + idempotence."""

from __future__ import annotations

import json
import os

from hazelcast_jet_contrib_spark.streaming.delivery_probe import probe_exactly_once_target
from hazelcast_jet_contrib_spark.streaming.exactly_once import idempotent_foreach_batch

import pytest

# Driver-tier split (VERDICT r17 item 3): this module is kill/restart/
# soak/protocol ROBUSTNESS coverage, not result correctness — it runs in
# the full tier (`pytest -m "slow or not slow"`, exercised and committed
# every round) but is excluded from the default driver-facing tier so the
# driver's verify window can complete. Oracle comparisons, plan audits,
# and kernel-equality pins all stay in the default tier.
pytestmark = pytest.mark.slow


def _epoch_store(root: str):
    """File-backed sink target behind the shipping
    exactly_once.idempotent_foreach_batch (its EpochCommitLog is the
    commit record of every exactly-once state directory). The writer
    itself blindly appends, so only the commit record can make a replay
    a no-op; each connect() is a new writer incarnation over the same
    commit directory."""
    data = os.path.join(root, "data.jsonl")

    def append(rows, epoch_id):
        with open(data, "a") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def connect():
        os.makedirs(root, exist_ok=True)
        return idempotent_foreach_batch(append, os.path.join(root, "commits"))

    def write_epoch(client, epoch_id, rows):
        client(rows, epoch_id)

    def read_all(client):
        with open(data) as f:
            return [json.loads(line) for line in f]

    return connect, write_epoch, read_all


def test_marker_discipline_passes_probe(tmp_path):
    connect, write_epoch, read_all = _epoch_store(str(tmp_path / "good"))
    report = probe_exactly_once_target(connect, write_epoch, read_all)
    assert report.marker_survives_reconnect
    assert report.replay_is_idempotent
    assert report.exactly_once_capable


def test_naive_append_store_fails_probe(tmp_path):
    """A store that blindly appends on replay (no marker) must be
    reported exactly-once-INCAPABLE — the failing outcome the reference
    probes exist to surface."""
    root = str(tmp_path / "bad")

    def connect():
        os.makedirs(root, exist_ok=True)
        return root

    def write_epoch(client, epoch_id, rows):
        with open(os.path.join(client, "data.jsonl"), "a") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def read_all(client):
        with open(os.path.join(client, "data.jsonl")) as f:
            return [json.loads(line) for line in f]

    report = probe_exactly_once_target(connect, write_epoch, read_all)
    assert not report.exactly_once_capable
    assert not report.replay_is_idempotent
