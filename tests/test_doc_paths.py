"""The run docs name only files that exist: every ``tools/…`` and
``tests/…`` path in README.md and the verify recipe must resolve in
the repo, so deleting a tool or a test without its doc row fails here.
Pure (no Spark)."""

from __future__ import annotations

import glob
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS = ("README.md", os.path.join(".claude", "skills", "verify", "SKILL.md"))

#: a repo-relative tools/ or tests/ path; the lookbehind skips nested
#: ones such as perfbench/tests, and `*` is kept for glob patterns
_PATH = re.compile(r"(?<![\w/.-])(?:tools|tests)/[\w.*-]+(?:/[\w.*-]+)*")


def named_paths(text: str) -> set[str]:
    return {m.rstrip(".") for m in _PATH.findall(text)}


def test_named_paths_parse_prose_and_globs():
    text = (
        "run `tools/oracle_check.py`. See tests/test_scale_*_rules.py, "
        "perfbench/tests and bare tests/ dirs."
    )
    assert named_paths(text) == {"tools/oracle_check.py", "tests/test_scale_*_rules.py"}


@pytest.mark.parametrize("doc", DOCS)
def test_doc_names_only_existing_paths(doc):
    with open(os.path.join(REPO, doc)) as fh:
        paths = named_paths(fh.read())
    assert paths, f"{doc} names no tools/ or tests/ path"
    missing = sorted(p for p in paths if not glob.glob(os.path.join(REPO, p)))
    assert not missing, f"{doc} names paths that do not exist: {missing}"
