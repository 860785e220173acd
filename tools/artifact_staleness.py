#!/usr/bin/env python
"""Mechanized scale-artifact staleness check (VERDICT r12 #2).

"Axis X not re-run: no change touches its code paths" was prose until
now. This tool makes the claim mechanical: every committed SCALE_*
artifact is mapped to the exact source files its stages execute, and
an artifact is STALE when any of those files has a commit newer than
the artifact's own last commit (or uncommitted modifications). 0
stale = every ladder receipt was measured at code that is current for
the paths it exercises.

Dependency mapping, per artifact:

* the GENERATING TOOL file plus its repo-internal static import
  closure (AST walk over ``import``/``from`` statements anywhere in
  the file, recursing through ``odoo_batch_processing_spark.*`` /
  ``tools.*`` / ``bench``). The walk deliberately does NOT expand
  ``registry._MODULES`` (a string list, not imports): a tool that
  merely *looks up* queries by name does not execute every module in
  the catalog, and expanding it would make every artifact depend on
  everything — flagging everything always, i.e. mechanizing nothing.
* the QUERY NAMES the artifact records (``queries`` dicts/lists and
  ``results[*].stages`` keys, intersected with the registry catalog),
  resolved to their defining modules via the registry, each expanded
  through the same import closure. This is how registry-driven tools
  get per-stage precision instead of the registry fan-out.

Staleness clock is GIT COMMIT TIME (``git log -1 --format=%ct --
path``), not mtime: checkouts and rebases scramble mtimes, commits
don't. An artifact not yet committed, or regenerated over its
committed copy, is compared by file mtime (it was just regenerated).
A dep file with uncommitted modifications flags — the artifact cannot
have measured unsaved code — unless the artifact was itself
regenerated after that edit: then it measured the worktree as it
stands, and committing both together keeps it fresh.

Code-equivalence refinement (round 13): a newer commit (or dirty
worktree state) on a dep does NOT stale the artifact when the dep's
EXECUTABLE code is unchanged — the dep's source at the artifact's
commit and at the worktree are parsed, docstrings stripped, and the
normalized ASTs compared (comments never reach the AST). A
docstring-only posture edit staled 13 artifacts before this;
measurements certify code behavior, and re-running an hour of
ladders over a comment is churn, not rigor. Any executable change —
a constant, a default, an expression — still flags.

    python tools/artifact_staleness.py            # check all, exit 1 if stale
    python tools/artifact_staleness.py --list SCALE_SPILL.json  # show deps

Prints a per-artifact table + ONE JSON line {stale, checked, details}.
"""

from __future__ import annotations

import argparse
import ast
import json
import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

#: artifact file → the tool whose run writes it. Glob-free and
#: explicit so a new artifact must be registered here (the registry
#: test asserts every committed SCALE_* file appears).
ARTIFACT_TOOLS: dict[str, str] = {
    "SCALE_DIM.json": "tools/axis_ladder.py",
    "SCALE_DOCLEN.json": "tools/axis_ladder.py",
    "SCALE_JSONSIZE.json": "tools/axis_ladder.py",
    "SCALE_STATE.json": "tools/scale_state.py",
    "SCALE_STATE_rocksdb.json": "tools/scale_state.py",
    "SCALE_SPILL.json": "tools/scale_spill.py",
    "SCALE_BATCHES.json": "tools/scale_batches.py",
}

#: internal top-level names the import walk follows
_INTERNAL_ROOTS = ("odoo_batch_processing_spark", "tools", "bench")


def _module_to_path(name: str) -> str | None:
    """Resolve a dotted internal module name to a repo-relative .py
    path (module file or package __init__)."""
    base = name.replace(".", os.sep)
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.exists(os.path.join(REPO_ROOT, cand)):
            return cand
    return None


def _imports_of(relpath: str) -> set[str]:
    """Repo-internal module names imported anywhere in the file."""
    with open(os.path.join(REPO_ROOT, relpath)) as fh:
        tree = ast.parse(fh.read(), filename=relpath)
    found: set[str] = set()

    def _internal(name: str) -> bool:
        return name.split(".")[0] in _INTERNAL_ROOTS

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if _internal(a.name):
                    found.add(a.name)
        elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            if _internal(node.module):
                found.add(node.module)
                # `from pkg import submodule` — add candidates; the
                # path resolver drops the ones that are plain symbols
                for a in node.names:
                    found.add(f"{node.module}.{a.name}")
    return found


def import_closure(relpath: str) -> set[str]:
    """Transitive repo-internal import closure, as repo-relative
    paths, starting from (and including) ``relpath``."""
    seen: set[str] = set()
    todo = [relpath]
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.add(p)
        for mod in _imports_of(p):
            mp = _module_to_path(mod)
            if mp is not None and mp not in seen:
                todo.append(mp)
    return seen


def artifact_query_names(data: dict) -> set[str]:
    """Query names an artifact records: `queries` (dict keys or list)
    and `results[*].stages` keys. Callers intersect with the registry
    catalog, so internal workload labels fall out harmlessly."""
    names: set[str] = set()
    q = data.get("queries")
    if isinstance(q, dict):
        names.update(k for k in q if isinstance(k, str))
    elif isinstance(q, list):
        names.update(k for k in q if isinstance(k, str))
    for res in data.get("results", []) or []:
        stages = res.get("stages") if isinstance(res, dict) else None
        if isinstance(stages, dict):
            names.update(k for k in stages if isinstance(k, str))
    return names


def _registry_modules() -> dict[str, str]:
    """catalog query name → repo-relative path of its defining module."""
    from odoo_batch_processing_spark.registry import all_queries

    out: dict[str, str] = {}
    for name, fn in all_queries(extended=True).items():
        mod = sys.modules.get(fn.__module__)
        f = getattr(mod, "__file__", None)
        if f:
            out[name] = os.path.relpath(os.path.abspath(f), REPO_ROOT)
    return out


def deps_for(artifact: str, registry_mods: dict[str, str] | None = None) -> set[str]:
    """Every source file whose change invalidates ``artifact``."""
    tool = ARTIFACT_TOOLS[artifact]
    deps = import_closure(tool)
    apath = os.path.join(REPO_ROOT, artifact)
    if os.path.exists(apath):
        with open(apath) as fh:
            data = json.load(fh)
        names = artifact_query_names(data)
        if names:
            mods = registry_mods if registry_mods is not None else _registry_modules()
            for n in names & set(mods):
                deps |= import_closure(mods[n])
    return deps


def _git_commit_ts(path: str) -> int | None:
    r = subprocess.run(
        ["git", "-C", REPO_ROOT, "log", "-1", "--format=%ct", "--", path],
        capture_output=True,
        text=True,
    )
    out = r.stdout.strip()
    return int(out) if out else None


def _git_last_commit_hash(path: str) -> str | None:
    r = subprocess.run(
        ["git", "-C", REPO_ROOT, "log", "-1", "--format=%H", "--", path],
        capture_output=True,
        text=True,
    )
    out = r.stdout.strip()
    return out or None


def _git_show(commit: str, path: str) -> str | None:
    r = subprocess.run(
        ["git", "-C", REPO_ROOT, "show", f"{commit}:{path}"],
        capture_output=True,
        text=True,
    )
    return r.stdout if r.returncode == 0 else None


def code_fingerprint(src: str) -> str | None:
    """Normalized fingerprint of a module's EXECUTABLE code: parse,
    strip docstrings (module/class/function leading string
    constants), dump without attributes — comments never reach the
    AST, so comment- and docstring-only edits fingerprint equal.
    None when the source does not parse (always treated as changed)."""
    try:
        tree = ast.parse(src)
    except SyntaxError:
        return None
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:] or [ast.Pass()]
    return ast.dump(tree, include_attributes=False)


def _code_unchanged_since(dep: str, artifact_commit: str | None) -> bool:
    """True iff the dep's executable code in the worktree equals its
    code at ``artifact_commit`` (docstrings/comments ignored)."""
    if artifact_commit is None:
        return False
    old = _git_show(artifact_commit, dep)
    if old is None:
        return False
    try:
        with open(os.path.join(REPO_ROOT, dep)) as fh:
            new = fh.read()
    except OSError:
        return False
    f_old, f_new = code_fingerprint(old), code_fingerprint(new)
    return f_old is not None and f_old == f_new


def _uncommitted(paths: set[str]) -> set[str]:
    r = subprocess.run(
        ["git", "-C", REPO_ROOT, "status", "--porcelain", "--"] + sorted(paths),
        capture_output=True,
        text=True,
    )
    return {line[3:].strip() for line in r.stdout.splitlines() if line.strip()}


def check(
    artifacts: list[str] | None = None,
    registry_mods: dict[str, str] | None = None,
) -> dict:
    if registry_mods is None:
        registry_mods = _registry_modules()
    names = artifacts or [
        a for a in ARTIFACT_TOOLS if os.path.exists(os.path.join(REPO_ROOT, a))
    ]
    details: dict[str, dict] = {}
    stale: list[str] = []
    for art in names:
        deps = deps_for(art, registry_mods)
        a_ts = _git_commit_ts(art)
        a_commit = _git_last_commit_hash(art)
        regenerated = a_ts is None or bool(_uncommitted({art}))
        if regenerated:  # regenerated but not yet committed
            a_mtime = os.path.getmtime(os.path.join(REPO_ROOT, art))
            a_ts = int(a_mtime)
            # no commit to diff against: the code at generation time is
            # unknowable, so the doc-only refinement must NOT apply (a
            # dep committed after generation would fingerprint equal to
            # the worktree and silently pass a stale receipt as fresh)
            a_commit = None
        newer = {
            d: ts
            for d in deps
            if (ts := _git_commit_ts(d)) is not None and ts > a_ts
        }
        dirty = _uncommitted(deps)
        if regenerated:
            # a dep edited before the regeneration was measured as it
            # stands; one edited (or deleted) after it was not
            dirty = {
                d
                for d in dirty
                if not os.path.exists(os.path.join(REPO_ROOT, d))
                or os.path.getmtime(os.path.join(REPO_ROOT, d)) > a_mtime
            }
        # code-equivalence refinement: drop deps whose executable code
        # is unchanged since the artifact's commit (doc/comment edits)
        doc_only = {
            d
            for d in set(newer) | dirty
            if _code_unchanged_since(d, a_commit)
        }
        newer = {d: ts for d, ts in newer.items() if d not in doc_only}
        dirty -= doc_only
        d = {
            "deps": sorted(deps),
            "artifact_ts": a_ts,
            "newer_deps": {k: v for k, v in sorted(newer.items())},
            "uncommitted_deps": sorted(dirty),
            "doc_only_deps": sorted(doc_only),
            "stale": bool(newer or dirty),
        }
        details[art] = d
        if d["stale"]:
            stale.append(art)
    return {"checked": len(names), "stale": sorted(stale), "details": details}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("artifacts", nargs="*", help="subset to check (default: all present)")
    ap.add_argument("--list", action="store_true", help="print each artifact's dep set")
    args = ap.parse_args(argv)

    res = check(args.artifacts or None)
    for art, d in sorted(res["details"].items()):
        mark = "STALE" if d["stale"] else "ok   "
        print(f"{mark} {art}  ({len(d['deps'])} dep files)")
        if args.list:
            for p in d["deps"]:
                print(f"        {p}")
        for p, ts in d["newer_deps"].items():
            print(f"        newer: {p} (committed {ts - d['artifact_ts']}s after artifact)")
        for p in d["uncommitted_deps"]:
            print(f"        uncommitted: {p}")
        for p in d["doc_only_deps"]:
            print(f"        doc-only (ignored): {p}")
    print(
        json.dumps(
            {
                "checked": res["checked"],
                "stale": res["stale"],
                "newer": {
                    a: sorted(d["newer_deps"]) for a, d in res["details"].items() if d["newer_deps"]
                },
                "uncommitted": {
                    a: d["uncommitted_deps"] for a, d in res["details"].items() if d["uncommitted_deps"]
                },
            }
        )
    )
    return 1 if res["stale"] else 0


if __name__ == "__main__":
    sys.exit(main())
