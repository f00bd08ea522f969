"""Repository hygiene: every ``scripts/<name>.py`` that the package, the
tests or the run docs name must exist, so a deleted or renamed script
cannot leave a docstring or a recipe pointing at nothing; every
``tests/slow_manifest.txt`` node id must name a test its file still
defines; and no test or script reads a plan around ``plans.audit.walk``.
No Spark session."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_SCRIPT_REF = re.compile(r"scripts/(\w+)\.py")
_PLAN_STRING_READ = re.compile(r"executedPlan\(\)\.toString\(\)|collectLeaves\(\)")


def _scanned_files() -> list[Path]:
    files = [
        p
        for d in ("etlbigdata_spark", "tests")
        for p in sorted((ROOT / d).rglob("*"))
        if p.suffix in {".py", ".md", ".txt"} and "__pycache__" not in p.parts
    ]
    files.append(ROOT / "README.md")
    skill = ROOT / ".claude" / "skills" / "verify" / "SKILL.md"
    if skill.exists():
        files.append(skill)
    return files


def test_named_script_paths_exist():
    missing = sorted(
        f"{p.relative_to(ROOT)} names scripts/{name}.py"
        for p in _scanned_files()
        for name in set(_SCRIPT_REF.findall(p.read_text(encoding="utf-8")))
        if not (ROOT / "scripts" / f"{name}.py").is_file()
    )
    assert not missing, "\n".join(missing)


def _defined_names(path: Path) -> set[str]:
    if not path.is_file():
        return set()
    tree = ast.parse(path.read_text(encoding="utf-8"))
    return {n.name for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.ClassDef))}


def test_slow_manifest_names_defined_tests():
    """conftest's pytest_collection_modifyitems matches manifest node ids
    against the collected items and silently ignores the rest, so a
    deleted or renamed test would leave a stale entry behind unnoticed."""
    defined: dict[str, set[str]] = {}
    stale = []
    for line in (ROOT / "tests" / "slow_manifest.txt").read_text(encoding="utf-8").splitlines():
        nodeid = line.strip()
        if not nodeid or nodeid.startswith("#"):
            continue
        path, *names = nodeid.split("::")
        if path not in defined:
            defined[path] = _defined_names(ROOT / path)
        if not names or any(n.split("[")[0] not in defined[path] for n in names):
            stale.append(nodeid)
    assert not stale, "\n".join(stale)


def test_plans_are_read_only_through_the_walker():
    """``plans.audit.walk`` is the one reader of an executed plan: it
    unwraps AQE wrappers, query stages and cached subplans, which a grep
    of the plan string or a scan of the tree's leaves does not, so no
    test or script may grow a second reader."""
    hits = [
        str(p.relative_to(ROOT))
        for d in ("tests", "scripts")
        for p in sorted((ROOT / d).rglob("*.py"))
        if _PLAN_STRING_READ.search(p.read_text(encoding="utf-8"))
    ]
    assert not hits, hits
