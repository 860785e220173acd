"""The run docs name only files that exist: every ``tools/…`` and
``tests/…`` path in README.md and the verify recipe must resolve in
the repo, and every package module path (``sources/manifest.py``,
``streaming/sources.change_source``) under the package, so deleting a
tool, a test or a module without its doc row fails here. Pure (no
Spark)."""

from __future__ import annotations

import glob
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS = ("README.md", os.path.join(".claude", "skills", "verify", "SKILL.md"))

PACKAGE = "odoo_batch_processing_spark"
_SUBPACKAGES = ("functions", "operators", "plans", "sources", "streaming")

#: a repo-relative tools/ or tests/ path, or a package module path
#: (``sources/manifest.py``; a ``.name`` attribute suffix is dropped);
#: the lookbehind skips nested ones such as perfbench/tests, and `*`
#: is kept for glob patterns
_PATH = re.compile(
    r"(?<![\w/.-])(?:(?:tools|tests)/[\w.*-]+(?:/[\w.*-]+)*"
    rf"|(?:{'|'.join(_SUBPACKAGES)})/\w+(?:\.py)?)"
)


def named_paths(text: str) -> set[str]:
    return {m.rstrip(".") for m in _PATH.findall(text)}


def _resolves(path: str) -> bool:
    if path.startswith(("tools/", "tests/")):
        return bool(glob.glob(os.path.join(REPO, path)))
    stem = os.path.join(REPO, PACKAGE, path.removesuffix(".py"))
    return os.path.isfile(stem + ".py") or os.path.isdir(stem)


def test_named_paths_parse_prose_and_globs():
    text = (
        "run `tools/oracle_check.py`. See tests/test_scale_*_rules.py, "
        "perfbench/tests and bare tests/ dirs; sources/manifest.py and "
        "`streaming/sources.change_source`, not odoo_batch_processing_spark/plans."
    )
    assert named_paths(text) == {
        "tools/oracle_check.py",
        "tests/test_scale_*_rules.py",
        "sources/manifest.py",
        "streaming/sources",
    }
    assert _resolves("sources/manifest.py") and _resolves("streaming/sources")
    assert not _resolves("sources/absent.py")


@pytest.mark.parametrize("doc", DOCS)
def test_doc_names_only_existing_paths(doc):
    with open(os.path.join(REPO, doc)) as fh:
        paths = named_paths(fh.read())
    assert paths, f"{doc} names no tools/ or tests/ path"
    missing = sorted(p for p in paths if not _resolves(p))
    assert not missing, f"{doc} names paths that do not exist: {missing}"
