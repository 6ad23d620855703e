"""The package reads only deployment settings from the environment:
where the driver runs (``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``)
and where derived fixtures live (``SPARK_GRAFT_MEDIA_DIR``). A tuning
knob read from the environment hides a choice the code should make from
its input, so a new ``SPARK_GRAFT_*`` read fails here."""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "sklearn_raster_spark"
DEPLOYMENT = {"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_MEDIA_DIR"}


def _env_reads(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, name) of every ``SPARK_GRAFT_*`` environment read:
    ``environ[...]``, ``environ.get(...)`` and ``getenv(...)``, bare or
    as ``os.`` attributes."""
    reads = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and isinstance(node.ctx, ast.Load):
            source, key = node.value, node.slice
        elif isinstance(node, ast.Call) and node.args:
            source, key = node.func, node.args[0]
            if isinstance(source, ast.Attribute) and source.attr == "get":
                source = source.value
        else:
            continue
        if (
            ast.unparse(source).rsplit(".", 1)[-1] in ("environ", "getenv")
            and isinstance(key, ast.Constant)
            and str(key.value).startswith("SPARK_GRAFT_")
        ):
            reads.append((node.lineno, key.value))
    return sorted(reads)


def test_guard_finds_every_spelling():
    src = (
        "import os\n"
        "from os import environ, getenv\n"
        "a = os.environ.get('SPARK_GRAFT_A', '8')\n"
        "b = os.environ['SPARK_GRAFT_B']\n"
        "c = os.getenv('SPARK_GRAFT_C')\n"
        "d = environ.get('SPARK_GRAFT_D')\n"
        "e = getenv('SPARK_GRAFT_E')\n"
        "f = os.environ.get('HOME')\n"
        "os.environ['SPARK_GRAFT_W'] = '1'\n"
        "g = conf.get('SPARK_GRAFT_G')\n"
    )
    assert _env_reads(ast.parse(src)) == [
        (3, "SPARK_GRAFT_A"), (4, "SPARK_GRAFT_B"), (5, "SPARK_GRAFT_C"),
        (6, "SPARK_GRAFT_D"), (7, "SPARK_GRAFT_E"),
    ]


def test_package_reads_only_deployment_settings():
    reads = {
        (f"{f.relative_to(PKG).as_posix()}:{line}", name)
        for f in sorted(PKG.rglob("*.py"))
        for line, name in _env_reads(ast.parse(f.read_text()))
    }
    knobs = sorted(f"{where} {name}" for where, name in reads if name not in DEPLOYMENT)
    assert not knobs, (
        "work the value out from the input or the session instead of "
        "reading a tuning knob from the environment:\n" + "\n".join(knobs)
    )
    assert {name for _, name in reads} == DEPLOYMENT
