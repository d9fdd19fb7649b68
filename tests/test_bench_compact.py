"""bench.py's last stdout line must fit its 500-char cap."""

import json


def _compact(sf: str) -> dict:
    return {
        "metric": "bench_total_wall", "value": 1.0, "unit": "sec",
        "sf": sf, "cpus": 4,
        "queries": {"q1": 2.0, "q2": 1.0},
        "queries_calibrated": {"q1": 20.0, "q2": 10.0},
        "scaling_median_eff": 0.81234567, "scaling_best_eff": 0.9123456,
    }


def test_compact_line_drops_optional_keys_after_queries():
    from bench import COMPACT_CAP, compact_line

    line = compact_line(_compact("/data/" + "x" * 340))
    assert len(line) <= COMPACT_CAP
    got = json.loads(line)
    assert got["queries"] == {}
    assert {"metric", "value", "unit", "queries", "sf"} <= set(got)
    # then the optional keys, in order, only as far as needed
    assert "queries_calibrated" not in got
    assert "scaling_best_eff" not in got
    assert got["scaling_median_eff"] == 0.81234567

    # a line that already fits is returned unchanged
    assert compact_line(_compact("sf0.01")) == json.dumps(
        _compact("sf0.01"))
