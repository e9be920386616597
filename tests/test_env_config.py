"""Configuration checks, no Spark session needed: the environment
variables the package reads are exactly the ones README.md's
Configuration table documents — so an A/B switch cannot creep back in
undocumented — and tune_for_session reports the confs it could not
set and puts the package on the Python workers' path."""

from __future__ import annotations

import ast
import os
import re

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_REPO, "kachess_spark")


def _is_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree: ast.AST, where: str) -> set[str]:
    """String keys of os.environ.get/[]/setdefault/pop/in and os.getenv;
    a non-literal key fails, since it could not be checked."""
    keys: set[str] = set()

    def key(arg: ast.AST, line: int) -> None:
        assert isinstance(arg, ast.Constant) and isinstance(arg.value, str), (
            f"{where}:{line}: environment key is not a string literal"
        )
        keys.add(arg.value)

    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            f = node.func
            if _is_environ(f.value) or (
                f.attr == "getenv"
                and isinstance(f.value, ast.Name)
                and f.value.id == "os"
            ):
                key(node.args[0], node.lineno)
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            key(node.slice, node.lineno)
        elif isinstance(node, ast.Compare) and any(
            _is_environ(c) for c in node.comparators
        ):
            key(node.left, node.lineno)
    return keys


def _package_env_reads() -> set[str]:
    keys: set[str] = set()
    for root, _, files in os.walk(_PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), path)
                keys |= _env_reads(tree, os.path.relpath(path, _REPO))
    return keys


def _documented() -> set[str]:
    with open(os.path.join(_REPO, "README.md")) as fh:
        doc = fh.read()
    section = doc.split("## Configuration", 1)[1].split("\n## ", 1)[0]
    return set(re.findall(r"^\| `([A-Z][A-Z0-9_]*)` \|", section, re.M))


def test_env_reads_match_readme_configuration():
    read, documented = _package_env_reads(), _documented()
    assert documented, "README.md has no Configuration table"
    assert read == documented, {
        "read but undocumented": sorted(read - documented),
        "documented but not read": sorted(documented - read),
    }


def test_env_scanner_sees_every_read_form():
    src = (
        "import os\n"
        "os.environ.get('A')\n"
        "os.environ['B']\n"
        "os.getenv('C', 'x')\n"
        "'D' in os.environ\n"
        "os.environ.setdefault('E', '1')\n"
    )
    assert _env_reads(ast.parse(src), "<src>") == {"A", "B", "C", "D", "E"}


def test_tune_for_session_names_unset_confs_in_one_warning():
    """tune_for_session keeps going past confs a session refuses, and
    names every one of them in a single warning."""
    import warnings

    from kachess_spark.session import tune_for_session

    class Conf:
        def __init__(self):
            self.set_ok = {}

        def set(self, k, v):
            if k.startswith("spark.sql.adaptive.skewJoin") or "Broadcast" in k:
                raise RuntimeError("not runtime-settable")
            self.set_ok[k] = v

    class Context:
        environment = {"PYTHONPATH": "/elsewhere"}

    class Session:
        conf = Conf()
        sparkContext = Context()

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        s = tune_for_session(Session())
    assert len(caught) == 1
    msg = str(caught[0].message)
    assert "spark.sql.adaptive.skewJoin.enabled=true" in msg
    assert "spark.sql.autoBroadcastJoinThreshold=64m" in msg
    assert s.conf.set_ok["spark.sql.session.timeZone"] == "UTC"
    # the package's parent dir joins the workers' path, once
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        tune_for_session(s)
    path = s.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert path == ["/elsewhere", _REPO]
