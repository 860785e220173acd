"""The bench summary line (bench.summary_line, OPTIMIZATION r18) must
always fit the driver's 2000-char stdout-tail window — that is its only
reason to exist. These tests are pure (no Spark): they exercise the
serializer against the committed BENCH artifacts and a synthetic
worst-case payload, so a catalog growth that would push the summary
past the window fails HERE, not silently in the next PERF comparison.
"""

from __future__ import annotations

import json
import os

import bench

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the driver persists only the last N chars of bench stdout (stored
#: tails were exactly 2000 chars with the full line's head cut off —
#: the observed capture limit this line exists to beat)
DRIVER_TAIL_CHARS = 2000


def _latest_payload() -> dict:
    with open(os.path.join(REPO, "BENCH_LAST.json")) as fh:
        return json.loads(fh.readline())


def test_summary_fits_driver_tail_on_committed_artifact():
    line = bench.summary_line(_latest_payload())
    # +1 for the trailing newline that shares the tail window
    assert len(line) + 1 <= DRIVER_TAIL_CHARS, (
        f"bench summary line is {len(line)} chars — no longer survives "
        f"the driver's {DRIVER_TAIL_CHARS}-char stdout tail; shorten "
        "per-query keys/precision or drop scalar fields"
    )


def test_summary_is_parseable_and_lossless_enough():
    payload = _latest_payload()
    parsed = json.loads(bench.summary_line(payload))
    # the driver-contract keys survive
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in parsed
    assert parsed["metric"] == payload["metric"]
    assert parsed["value"] == payload["value"]
    assert parsed["line"] == "summary-v1"
    # every query key survives with ≤0.5 ms rounding error
    assert set(parsed["queries"]) == set(payload["queries"])
    for name, sec in payload["queries"].items():
        assert abs(parsed["queries"][name] - sec) <= 0.0005001


def test_summary_headroom_for_catalog_growth():
    """The summary must still fit if the catalog grows by a few rows:
    synthesize the worst case — every current query name plus five
    35-char names, all with 4-digit-integer-part timings."""
    payload = _latest_payload()
    queries = {name: 9999.999 for name in payload["queries"]}
    for i in range(5):
        queries[f"s_future_query_with_a_very_long_name_{i}"] = 9999.999
    worst = dict(payload, queries=queries)
    line = bench.summary_line(worst)
    assert len(line) + 1 <= DRIVER_TAIL_CHARS, (
        f"worst-case summary is {len(line)} chars — the next catalog "
        "addition could push the real line past the driver tail"
    )
