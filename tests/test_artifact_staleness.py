"""tools/artifact_staleness.py (VERDICT r12 #2): the "axis X not
re-run, no change touches its code paths" claim is now mechanical.

Covers: the import-closure walk (finds transitive internal deps,
follows function-level imports, does NOT fan out through
registry._MODULES), query-name extraction from artifact shapes,
end-to-end staleness verdicts on a scratch git repo, and that every
committed scale artifact is registered in ARTIFACT_TOOLS.

The freshness-at-HEAD gate itself
(test_committed_artifacts_fresh_at_head) is the enforcement the
verdict asked for: editing an engine module without re-running the
ladders whose stages execute it turns the suite red.
"""

from __future__ import annotations

import json
import os
import subprocess

import pytest

from tools import artifact_staleness as ast_tool

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_import_closure_transitive_and_function_level():
    deps = ast_tool.import_closure("tools/scale_spill.py")
    assert "tools/scale_spill.py" in deps
    # function-level import inside _stage_corpus
    assert "odoo_batch_processing_spark/sources/sinks.py" in deps
    # transitive: sinks → loader/session etc. must pull session.py
    assert "odoo_batch_processing_spark/session.py" in deps


def test_import_closure_does_not_expand_registry_catalog():
    """axis_ladder imports registry (to look up queries by name); the
    walk must include registry.py itself but must NOT fan out through
    its _MODULES string list — per-stage precision comes from the
    artifact's recorded query names instead."""
    deps = ast_tool.import_closure("tools/axis_ladder.py")
    assert "odoo_batch_processing_spark/registry.py" in deps
    # a module only reachable via the _MODULES list, never imported
    # statically by axis_ladder's closure:
    assert "odoo_batch_processing_spark/operators/scd.py" not in deps


def test_artifact_query_names_shapes():
    data = {
        "queries": {"q01": 1.2, "s_x7": 0.4},
        "results": [
            {"mult": 1, "stages": {"x4_cosine_topk": 0.5}},
            {"mult": 2, "stages": {"x4_cosine_topk": 0.9, "x3_simhash": 0.2}},
        ],
    }
    assert ast_tool.artifact_query_names(data) == {
        "q01",
        "s_x7",
        "x4_cosine_topk",
        "x3_simhash",
    }
    assert ast_tool.artifact_query_names({"queries": ["a", "b"]}) == {"a", "b"}
    assert ast_tool.artifact_query_names({}) == set()


def test_artifact_deps_include_recorded_query_modules():
    """SCALE_DIM records x4_* stages → similarity.py must be a dep
    even though axis_ladder.py never imports it statically."""
    if not os.path.exists(os.path.join(REPO, "SCALE_DIM.json")):
        pytest.skip("artifact absent")
    deps = ast_tool.deps_for("SCALE_DIM.json")
    assert "odoo_batch_processing_spark/operators/similarity.py" in deps


def _git(cwd, *args, date: str | None = None):
    env = dict(os.environ)
    if date:  # %ct reads the COMMITTER date, which --date does not set
        env["GIT_COMMITTER_DATE"] = date
        env["GIT_AUTHOR_DATE"] = date
    subprocess.run(
        ["git", "-c", "user.email=t@t", "-c", "user.name=t"] + list(args),
        cwd=cwd,
        check=True,
        capture_output=True,
        env=env,
    )


def test_staleness_verdicts_on_scratch_repo(tmp_path, monkeypatch):
    """End-to-end on a scratch git repo: artifact committed after its
    dep is fresh; a newer dep commit flags it; an uncommitted dep
    modification flags it."""
    repo = tmp_path
    (repo / "tools").mkdir()
    (repo / "tools" / "mytool.py").write_text("import json\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "dep", date="2024-01-01T00:00:00")
    (repo / "ART.json").write_text(json.dumps({"results": []}))
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "artifact", date="2024-01-02T00:00:00")

    monkeypatch.setattr(ast_tool, "REPO_ROOT", str(repo))
    monkeypatch.setitem(ast_tool.ARTIFACT_TOOLS, "ART.json", "tools/mytool.py")

    res = ast_tool.check(["ART.json"], registry_mods={})
    assert res["stale"] == []

    # doc/comment-only dep commit → NOT stale (round-13 refinement:
    # measurements certify executable code, not prose)
    (repo / "tools" / "mytool.py").write_text(
        '"""docstring."""\nimport json  # a comment\n'
    )
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "doc only", date="2024-01-02T12:00:00")
    res = ast_tool.check(["ART.json"], registry_mods={})
    assert res["stale"] == []
    assert res["details"]["ART.json"]["doc_only_deps"] == ["tools/mytool.py"]

    # dep commit with an EXECUTABLE change → stale
    (repo / "tools" / "mytool.py").write_text("import json\nX = 1\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "dep change", date="2024-01-03T00:00:00")
    res = ast_tool.check(["ART.json"], registry_mods={})
    assert res["stale"] == ["ART.json"]
    assert "tools/mytool.py" in res["details"]["ART.json"]["newer_deps"]

    # re-running + committing the artifact clears it
    (repo / "ART.json").write_text(json.dumps({"results": [], "rerun": 1}))
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "rerun", date="2024-01-04T00:00:00")
    assert ast_tool.check(["ART.json"], registry_mods={})["stale"] == []

    # uncommitted EXECUTABLE dep modification flags
    (repo / "tools" / "mytool.py").write_text("import json\nX = 2\n")
    res = ast_tool.check(["ART.json"], registry_mods={})
    assert res["stale"] == ["ART.json"]
    assert res["details"]["ART.json"]["uncommitted_deps"] == ["tools/mytool.py"]

    # uncommitted comment-only modification does not
    (repo / "tools" / "mytool.py").write_text("import json\nX = 1  # note\n")
    res = ast_tool.check(["ART.json"], registry_mods={})
    assert res["stale"] == []
    assert res["details"]["ART.json"]["doc_only_deps"] == ["tools/mytool.py"]


def test_uncommitted_artifact_gets_no_doc_only_refinement(tmp_path, monkeypatch):
    """Review r13: for an UNCOMMITTED artifact there is no commit to
    diff deps against — a dep committed after generation is identical
    to the worktree and would fingerprint 'unchanged', silently
    passing a stale receipt. The refinement must not apply."""
    repo = tmp_path
    (repo / "tools").mkdir()
    (repo / "tools" / "mytool.py").write_text("import json\n")
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "dep", date="2024-01-01T00:00:00")

    monkeypatch.setattr(ast_tool, "REPO_ROOT", str(repo))
    monkeypatch.setitem(ast_tool.ARTIFACT_TOOLS, "ART.json", "tools/mytool.py")

    # artifact regenerated but NOT committed (mtime clock), then the
    # dep gets an executable change committed after generation
    (repo / "ART.json").write_text(json.dumps({"results": []}))
    os.utime(repo / "ART.json", (1704153600, 1704153600))  # 2024-01-02
    (repo / "tools" / "mytool.py").write_text("import json\nX = 1\n")
    _git(repo, "add", "tools/mytool.py")
    _git(repo, "commit", "-qm", "code change", date="2024-01-03T00:00:00")

    res = ast_tool.check(["ART.json"], registry_mods={})
    assert res["stale"] == ["ART.json"]
    assert "tools/mytool.py" in res["details"]["ART.json"]["newer_deps"]
    assert res["details"]["ART.json"]["doc_only_deps"] == []


def test_regenerated_artifact_measured_dirty_deps_edited_before_it(tmp_path, monkeypatch):
    """An artifact regenerated over its committed copy after a dep's
    uncommitted edit measured that edit: fresh. A dep edited after the
    regeneration still flags."""
    repo = tmp_path
    (repo / "tools").mkdir()
    (repo / "tools" / "mytool.py").write_text("import json\n")
    (repo / "ART.json").write_text(json.dumps({"results": []}))
    _git(repo, "init", "-q")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "dep + artifact", date="2024-01-01T00:00:00")

    monkeypatch.setattr(ast_tool, "REPO_ROOT", str(repo))
    monkeypatch.setitem(ast_tool.ARTIFACT_TOOLS, "ART.json", "tools/mytool.py")

    # executable dep edit, then the artifact re-run (both staged)
    (repo / "tools" / "mytool.py").write_text("import json\nX = 1\n")
    os.utime(repo / "tools" / "mytool.py", (1704153600, 1704153600))  # 2024-01-02
    (repo / "ART.json").write_text(json.dumps({"results": [], "rerun": 1}))
    os.utime(repo / "ART.json", (1704240000, 1704240000))  # 2024-01-03
    _git(repo, "add", "-A")
    res = ast_tool.check(["ART.json"], registry_mods={})
    assert res["stale"] == []

    # a further executable edit after the re-run flags
    (repo / "tools" / "mytool.py").write_text("import json\nX = 2\n")
    os.utime(repo / "tools" / "mytool.py", (1704326400, 1704326400))  # 2024-01-04
    res = ast_tool.check(["ART.json"], registry_mods={})
    assert res["stale"] == ["ART.json"]
    assert res["details"]["ART.json"]["uncommitted_deps"] == ["tools/mytool.py"]


def test_code_fingerprint_semantics():
    fp = ast_tool.code_fingerprint
    # docstrings and comments are invisible
    assert fp('"""a."""\nx = 1\n') == fp("x = 1  # hi\n")
    assert fp('def f():\n    """doc."""\n    return 1\n') == fp(
        "def f():\n    return 1\n"
    )
    # a docstring-ONLY body normalizes to the same pass-body
    assert fp('def f():\n    """doc."""\n') == fp("def f():\n    pass\n")
    # executable changes are visible
    assert fp("x = 1\n") != fp("x = 2\n")
    assert fp("def f(a=1): ...\n") != fp("def f(a=2): ...\n")
    # unparsable → None (treated as changed)
    assert fp("def (:\n") is None


def test_every_committed_scale_artifact_is_registered():
    """A new SCALE_*/STREAM_FLOORS_*/SKEW_* artifact must be mapped to
    its generating tool or the staleness gate silently ignores it."""
    import glob

    committed = set()
    for pat in ("SCALE_*.json", "STREAM_FLOORS_*.json", "SKEW_*.json", "RATE_*.json"):
        committed.update(
            os.path.basename(p) for p in glob.glob(os.path.join(REPO, pat))
        )
    unregistered = committed - set(ast_tool.ARTIFACT_TOOLS)
    assert not unregistered, f"register in ARTIFACT_TOOLS: {sorted(unregistered)}"


def test_committed_artifacts_fresh_at_head():
    """The enforcement gate: every committed ladder artifact must be
    newer than the last commit touching any file its stages execute.
    If this fails, re-run the flagged ladder tools and commit their
    artifacts (tools/artifact_staleness.py prints exactly which)."""
    res = ast_tool.check()
    assert res["stale"] == [], {
        a: {
            "newer": sorted(res["details"][a]["newer_deps"]),
            "uncommitted": res["details"][a]["uncommitted_deps"],
        }
        for a in res["stale"]
    }
