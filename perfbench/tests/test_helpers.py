"""Ratio and rate-check helpers, payload parsing and result comparison."""

from __future__ import annotations

from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

from perfbench import connector, headline, stats


def test_ratio():
    assert stats.ratio(6, 3) == 2.0
    assert stats.ratio(5, 0) == 0.0


def test_payload_round_trip_and_exactly_once():
    pad = connector.padding(1)
    blobs = [connector.payload("k07", s, 1_700_000_000_123_456 + s, pad) for s in range(5)]
    keys, seqs, created = connector.parse_payloads(blobs)
    assert list(keys) == [b"k07"] * 5
    assert list(seqs) == list(range(5))
    assert created[3] == 1_700_000_000_123_459
    assert connector.check_exactly_once(keys, seqs, {b"k07": 5}) == 0
    lost_dup = connector.parse_payloads(blobs[:3] + blobs[2:3])
    assert connector.check_exactly_once(*lost_dup[:2], {b"k07": 5}) == 3


def test_keys_cover_every_shard():
    keys = connector.pick_keys(5)
    assert keys == connector.pick_keys(5)
    shards = {connector.shard_for_key(k, connector.SHARDS) for k in keys}
    assert shards == set(range(connector.SHARDS))


def test_results_match_is_order_insensitive_and_typed():
    want = pd.DataFrame({"a": [1, 2], "b": [0.5, 1.25], "c": ["x", "y"]})
    rows = [(Decimal("2"), 1.25, "y"), (1, 0.5, "x")]
    assert headline.results_match(["a", "b", "c"], rows, want)
    assert not headline.results_match(["a", "b", "c"], [(1, 0.5, "x"), (2, 1.5, "y")], want)
    assert not headline.results_match(["a", "b"], [(1, 0.5)], want)


def _micro_batches(due, fixed_s, capacity):
    """Delivery times from a micro-batch consumer that takes everything due
    when a batch starts and needs ``fixed_s`` plus one second per
    ``capacity`` records to deliver it; the next batch starts then."""
    delivered = np.empty_like(due)
    t, i = 0.0, 0
    while i < len(due):
        j = max(int(np.searchsorted(due, t, "right")), i + 1)
        t = max(t, due[j - 1]) + fixed_s + (j - i) / capacity
        delivered[i:j] = t
        i = j
    return delivered


def test_delivered_ratio_reads_a_batching_consumer_that_keeps_up_as_one():
    due = np.arange(0, 8, 1 / connector.TAIL_RATE)
    delivered = _micro_batches(due, 0.5, 2 * connector.TAIL_RATE)
    # measured after a warm-up, as the workload does: the first batches are small
    assert connector.delivered_ratio(due, delivered, 2.0, 8.0) == pytest.approx(1.0, abs=0.05)
    assert connector.rate_sustained(np.zeros(80), due, delivered, 2.0, 8.0)


def test_consumer_at_two_thirds_of_the_rate_fails_the_run():
    due = np.arange(0, 8, 1 / connector.TAIL_RATE)
    late = np.zeros(80)
    for share in (0.65, 0.75):
        delivered = due / share + 0.5
        assert connector.delivered_ratio(due, delivered, 0.0, 8.0) == pytest.approx(share, abs=0.01)
        assert not connector.rate_sustained(late, due, delivered, 0.0, 8.0)
    # the same shortfall, delivered in ever larger micro-batches
    delivered = _micro_batches(due, 0.2, 0.65 * connector.TAIL_RATE)
    assert connector.delivered_ratio(due, delivered, 0.0, 8.0) < connector.TAIL_MIN_DELIVERED
    assert not connector.rate_sustained(late, due, delivered, 0.0, 8.0)


def test_late_generator_or_stalled_consumer_fails_the_run():
    due = np.arange(0, 8, 1 / connector.TAIL_RATE)
    delivered = _micro_batches(due, 0.5, 2 * connector.TAIL_RATE)
    assert not connector.rate_sustained(np.full(80, 400.0), due, delivered, 2.0, 8.0)
    assert connector.delivered_ratio(due, np.full_like(due, 7.9), 0.0, 8.0) == 0.0


def test_measure_windows_runs_at_least_three_windows():
    assert len(stats.measure_windows(lambda: None, 0.0)) == 3
    assert len(stats.measure_windows(lambda: None, 0.0, at_least=1)) == 1


def test_quiet_leaves_out_stolen_windows_unless_all_were():
    def window(steal):
        host = stats.HostWindow()
        host.steal_cores = steal
        return {"host": host}

    run = [window(0.6), window(0.02), window(0.0)]
    assert stats.quiet(run) == run[1:]
    stolen = [window(0.6), window(0.3)]
    assert stats.quiet(stolen) == stolen
