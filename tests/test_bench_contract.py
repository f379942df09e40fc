"""The bench artifact contract: the ONE emitted JSON line must stay under
1500 chars, since callers that capture only the last ~2000 chars of
output could not parse a 4 KB+ line despite rc 0. Full detail goes to
``bench.DETAIL``, under the bench scratch dir, instead."""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
import bench  # noqa: E402


def _result() -> dict:
    return {
        "metric": "headline-suite seconds (queries + CDC replay) at sf; "
        "replay.events_per_sec is the north-star throughput",
        "value": 40.123,
        "unit": "sec",
        "sf": 0.1,
        "scratch": "/tmp/x",
        "queries": {f"q{i}_some_long_query_name": 1.2345 for i in range(17)},
        "replay": {
            "sec": 25.1,
            "events": 2_000_000,
            "chunk": 500_000,
            "batches": 4,
            "final_rows": 191_234,
            "mode": "mor",
            "events_per_sec": 79681.3,
            "attempts": 1,
            "steal_frac": 0.0004,
            "samples": [{"big": "x" * 100}] * 5,
        },
        "elapsed_sec": 587.0,
    }


def test_emitted_line_fits_driver_tail():
    line = json.dumps(bench._compact_result(_result()))
    assert len(line) < 1500, f"{len(line)} chars: {line[:200]}"
    d = json.loads(line)
    # the driver-graded numbers survive compaction
    assert d["value"] == 40.123
    assert d["replay"]["events_per_sec"] == 79681.3
    assert d["replay"]["final_rows"] == 191_234
    assert len(d["queries"]) == 17
    # the bulk detail does not
    assert "samples" not in d["replay"]
    assert "scratch" not in d


def test_compaction_never_empties_headline_keys():
    """Even a pathological result (hundreds of queries) keeps the headline
    keys and stays under the cap by dropping per-query detail."""
    res = _result()
    res["queries"] = {f"very_long_query_name_number_{i:04d}": 1.23456 for i in range(200)}
    line = json.dumps(bench._compact_result(res))
    assert len(line) < 1500
    d = json.loads(line)
    assert d["replay"]["events_per_sec"] == 79681.3
    assert d["replay"]["final_rows"] == 191_234
    assert d["queries_detail"] == bench.DETAIL
