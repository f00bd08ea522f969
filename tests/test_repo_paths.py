"""Repository hygiene: every ``scripts/<name>.py`` that the package, the
tests or the run docs name must exist, so a deleted or renamed script
cannot leave a docstring or a recipe pointing at nothing.  No Spark
session."""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
_SCRIPT_REF = re.compile(r"scripts/(\w+)\.py")


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
