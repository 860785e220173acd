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
