"""Unit tests for the benchmark's pure helpers (no Spark needed):

    python3 -m pytest perfbench/tests
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import sensorgen  # noqa: E402
from common import (check_metric_name, lateness, percentile, result_digest,  # noqa: E402
                    samples_beyond, supported_percentile)


def test_p90_needs_ten_samples_beyond_it():
    assert samples_beyond(100, 0.9) == 10
    assert samples_beyond(99, 0.9) == 9
    assert supported_percentile(list(range(99)), 0.9) is None
    assert supported_percentile(list(range(100)), 0.9) == pytest.approx(percentile(list(range(100)), 0.9))
    assert supported_percentile([3.0] * 20, 0.5) == 3.0  # a median needs 20


def test_percentile_interpolates():
    assert percentile([4, 1, 3, 2], 0.5) == 2.5
    assert percentile([5], 0.9) == 5
    with pytest.raises(ValueError):
        percentile([], 0.5)


@pytest.mark.parametrize("name", ["setup_s", "spark.jobs", "stream.gold.state_rows", "9x", "a-b", "a" * 64])
def test_metric_name_accepted(name):
    assert check_metric_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "a" * 65, "été", None])
def test_metric_name_rejected(name):
    with pytest.raises(ValueError):
        check_metric_name(name)


def test_lateness_counts_only_late_writes():
    assert lateness([10.0, 10.2, 10.4], [10.01, 10.15, 10.9]) == pytest.approx([0.01, 0.0, 0.5])
    assert lateness([], []) == []
    with pytest.raises(ValueError):
        lateness([1.0], [])


def test_digest_ignores_row_and_column_order():
    a = [{"k": 1, "v": 0.1 + 0.2}, {"k": 2, "v": None}]
    b = [{"v": None, "k": 2}, {"v": 0.3, "k": 1}]
    assert result_digest(a, ["k", "v"]) == result_digest(b, ["v", "k"])


def test_digest_sees_value_count_and_nesting_changes():
    base = result_digest([{"k": 1, "v": [1.0, 2.0]}], ["k", "v"])
    assert base != result_digest([{"k": 1, "v": [2.0, 1.0]}], ["k", "v"])
    assert base != result_digest([{"k": 1, "v": [1.0, 2.0]}] * 2, ["k", "v"])
    assert base != result_digest([{"k": 1, "v": [1.0, 2.001]}], ["k", "v"])


def test_sensor_events_are_seeded_and_unique():
    a, b = sensorgen.events(7, 3), sensorgen.events(7, 3)
    assert a == b and a != sensorgen.events(8, 3)
    ids = [e["event_id"] for k in range(4) for e in sensorgen.events(7, k)]
    assert len(ids) == len(set(ids)) == 4 * sensorgen.EVENTS_PER_FILE


def test_sensor_render_and_validity():
    evs = [e for k in range(20) for e in sensorgen.events(1, k)]
    invalid = [e for e in evs if not sensorgen.is_valid(e)]
    assert 0 < len(invalid) < 0.03 * len(evs)
    for e in evs[:50] + invalid:
        body = json.loads(sensorgen.render(e, 1_700_000_000.0))
        assert body["created_at"] == 1_700_000_000.0
        stamps = {"sensor_ts", "ts"} & set(body)
        assert len(stamps) == (0 if e["variant"] is None else 1)
