"""One broadcast gate: the session's size-based join selection
(``spark.sql.autoBroadcastJoinThreshold`` on static sizes, AQE's
``spark.sql.adaptive.autoBroadcastJoinThreshold`` on measured ones)
decides every join. A ``broadcast`` hint cannot fall back when its side
outgrows driver memory, so no module may place one."""

import ast
from pathlib import Path

from sklearn_raster_spark.plans.registry import load_all_queries
from sklearn_raster_spark.utils.cache import release_shared_caches

from oracle_utils import rows_to_multiset

PKG = Path(__file__).resolve().parent.parent / "sklearn_raster_spark"
_FUNCTIONS = "pyspark.sql.functions"


def _broadcast_hints(tree: ast.AST) -> list[int]:
    """Line numbers of calls to ``pyspark.sql.functions.broadcast``,
    through a module alias (``F.broadcast``, ``functions.broadcast``)
    or a bare imported name (``from ... import broadcast as b``)."""
    modules, bare = set(), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            modules |= {a.asname or a.name for a in node.names if a.name == _FUNCTIONS}
        elif isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            modules |= {a.asname or a.name for a in node.names if a.name == "functions"}
        elif isinstance(node, ast.ImportFrom) and node.module == _FUNCTIONS:
            bare |= {a.asname or a.name for a in node.names if a.name == "broadcast"}
    lines = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in bare:
            lines.append(node.lineno)
        elif isinstance(f, ast.Attribute) and f.attr == "broadcast":
            base = ast.unparse(f.value)
            if base in modules or base == _FUNCTIONS:
                lines.append(node.lineno)
    return lines


def test_guard_finds_every_spelling():
    src = (
        "from pyspark.sql import functions as F\n"
        "import pyspark.sql.functions\n"
        "from pyspark.sql.functions import broadcast as bc\n"
        "a.join(F.broadcast(b))\n"
        "a.join(pyspark.sql.functions.broadcast(b))\n"
        "a.join(bc(b))\n"
        "spark.sparkContext.broadcast(model)\n"
    )
    assert _broadcast_hints(ast.parse(src)) == [4, 5, 6]


def test_no_module_places_a_broadcast_hint():
    offenders = [
        f"{f.relative_to(PKG).as_posix()}:{line}"
        for f in sorted(PKG.rglob("*.py"))
        for line in _broadcast_hints(ast.parse(f.read_text()))
    ]
    assert not offenders, (
        "let the planner's size-based join selection decide; drop the "
        "broadcast hint at:\n" + "\n".join(offenders)
    )


_THRESHOLDS = (
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.adaptive.autoBroadcastJoinThreshold",
)


def _run(spark, sf_dir, name):
    df = load_all_queries()[name].fn(spark, sf_dir)
    rows = rows_to_multiset(df.collect(), df.columns)
    plan = spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    release_shared_caches()
    return rows, plan


def test_large_side_branch_plans_shuffled_joins(spark, sf_dir):
    """With both thresholds off, every join side counts as too large to
    broadcast: q104 and q122 (whose keeper map, vocabulary and verdict
    sides used to be hinted) must plan shuffled joins and still return
    the default-config rows."""
    names = ("q104_dedup_corpus", "q122_incremental_dedup")
    default = {n: _run(spark, sf_dir, n)[0] for n in names}
    assert all(default.values())
    before = {k: spark.conf.get(k, None) for k in _THRESHOLDS}
    try:
        for k in _THRESHOLDS:
            spark.conf.set(k, "-1")
        for n in names:
            rows, plan = _run(spark, sf_dir, n)
            assert "isFinalPlan=true" in plan
            assert "BroadcastExchange" not in plan, n
            assert "SortMergeJoin" in plan, n
            assert rows == default[n], n
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
