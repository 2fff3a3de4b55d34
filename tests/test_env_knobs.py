"""The engine reads no environment variables: every switch is a
function parameter, so behaviour is visible at the call site."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "slmpy_spark"
ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _env_reads(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    rel = path.relative_to(PKG.parent)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            names = {node.attr}
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            names = {a.name for a in node.names}
        else:
            continue
        if names & ENV_NAMES:
            hits.append(f"{rel}:{node.lineno}")
    return hits


def test_engine_reads_no_env_vars():
    files = sorted(PKG.rglob("*.py"))
    assert files
    hits = [h for f in files for h in _env_reads(f)]
    assert hits == []
