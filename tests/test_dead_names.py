"""Dead-name guard (Spark-free): every top-level function, class or
constant of a package module must be referenced in another tracked .py
file or elsewhere in its own module.  A helper nothing calls is a second
formulation waiting to drift."""

import ast
import re
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _tracked_py() -> list[Path]:
    try:
        names = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=ROOT, check=True,
            capture_output=True, text=True).stdout.split()
        return [ROOT / n for n in names if (ROOT / n).exists()]
    except (OSError, subprocess.CalledProcessError):  # exported tree
        return list(ROOT.rglob("*.py"))


def _defined(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = getattr(node, "targets", [getattr(node, "target", None)])
            yield from (t.id for t in targets if isinstance(t, ast.Name))


def test_no_unreferenced_top_level_names():
    files = {p: p.read_text() for p in _tracked_py()}
    dead = []
    for path, src in files.items():
        if path.relative_to(ROOT).parts[0] != "biomedical_ner_spark":
            continue
        for name in _defined(ast.parse(src)):
            if name.startswith("__") and name.endswith("__"):
                continue
            pat = re.compile(rf"\b{re.escape(name)}\b")
            if len(pat.findall(src)) < 2 and not any(
                    pat.search(s) for p, s in files.items() if p != path):
                dead.append(f"{path.relative_to(ROOT)}:{name}")
    assert not dead, f"top-level names referenced nowhere: {dead}"
