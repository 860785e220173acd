"""The axis-ladder runner's specs, checked without Spark: each names
catalog queries, is registered to the runner for the staleness gate,
and builds an artifact with the committed artifact's keys."""

from __future__ import annotations

import json
import os

import pytest

from odoo_batch_processing_spark.registry import all_queries
from tools.artifact_staleness import ARTIFACT_TOOLS
from tools.axis_ladder import AXES, payload

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("name", sorted(AXES))
def test_axis_spec_matches_catalog_registry_and_artifact(name):
    axis = AXES[name]
    assert set(axis.stages) <= set(all_queries(extended=True))
    assert ARTIFACT_TOOLS[axis.artifact] == "tools/axis_ladder.py"
    with open(os.path.join(REPO, axis.artifact)) as fh:
        committed = json.load(fh)
    assert list(payload(axis, committed["results"])) == list(committed)


def _rungs(secs: dict[str, list[float]]) -> list[dict]:
    """Result rows for three rungs of the doclen axis, constant output rows."""
    return [
        {"mult": m, "stages": {s: {"sec": v[i], "rows": 100} for s, v in secs.items()}}
        for i, m in enumerate((1, 4, 16))
    ]


def test_payload_keeps_only_flags_the_retime_repeats():
    """A stage that flags on the first pass and not when re-timed is
    unflagged; one that flags on both stays flagged. Both passes are in
    the artifact, and only the flagged stages are re-timed."""
    axis = AXES["doclen"]
    flat = [1.0, 0.9, 0.8]
    first = _rungs({"a": flat, "b": flat, "c": flat, "noisy": [1.0, 1.0, 2.4],
                    "quadratic": [1.0, 3.0, 9.0]})
    asked = []

    def retime(stages):
        asked.append(stages)
        return _rungs({"noisy": [1.0, 0.95, 0.85], "quadratic": [1.0, 3.1, 9.5]})

    body = payload(axis, first, retime)
    assert asked == [["noisy", "quadratic"]]
    assert body[axis.flagged_key] == ["quadratic"]
    assert body["retime"]["stages"] == ["noisy", "quadratic"]
    assert body["retime"]["flagged"] == ["quadratic"]
    assert body["divergence"]["noisy"]["divergent_rungs"] == [2]
    assert body["retime"]["divergence"]["noisy"]["divergent_rungs"] == []
    assert body["retime"]["results"][2]["stages"]["noisy"]["sec"] == 0.85


def test_payload_does_not_retime_an_unflagged_run():
    axis = AXES["doclen"]
    flat = [1.0, 0.9, 0.8]

    def retime(stages):
        raise AssertionError("nothing flagged, nothing to re-time")

    body = payload(axis, _rungs({"a": flat, "b": flat, "c": flat}), retime)
    assert body[axis.flagged_key] == [] and body["retime"] is None
